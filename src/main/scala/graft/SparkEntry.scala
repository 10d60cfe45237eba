package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.UrlCanonicalize.url_canonicalize
import graft.functions.WarcDigest.warc_sha256_hex
import graft.ops.{AnnOps, DedupOps, Multimodal, TextOps}
import graft.seen.{FilterExprs, SeenSetOps}
import graft.web.SyntheticWeb

/**
 * Driver contract (see SURVEY.md §7): one `queries` entry per implemented
 * operator family, with a DuckDB-equivalent `oracleSql` wherever the
 * semantics are ANSI-SQL-expressible. Column names and row order are aligned
 * on both sides (every query ends in an explicit ORDER BY).
 *
 * Cross-engine determinism rules used throughout:
 *  - money/double sums ride as `cast(round(x*100) as bigint)` cents (exact)
 *  - float embeddings are quantized to ints before dot products (exact)
 *  - every output is null-free and explicitly ordered
 */
object SparkEntry {

  /** Flagship: one politeness-scheduled, dedup-tiered crawl round over the
    * synthetic interleaved docs web. Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val n = 300L
    val res = graft.jobs.Crawl.run(spark,
      SyntheticWeb.pages(spark, n), SyntheticWeb.seeds(spark, 100, n),
      Some(SyntheticWeb.robots(spark)), Some(SyntheticWeb.doppelganger(spark, n)),
      Some(SyntheticWeb.cdx(spark, n)),
      graft.jobs.Crawl.Config(maxRounds = 1, perHostBudget = 50, numSlots = 8,
        dedupSizeThreshold = 32, numShards = 4),
      dns = Some(SyntheticWeb.dns(spark)))
    res.warcRows
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private def cents(c: Column): Column = round(c * 100, 0).cast("long")

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- relational core (scan/filter/project/agg/join/window/set ops) ---

    "q01_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("1995-06-01").cast("timestamp") && col("l_quantity") < 10)
        .select(col("l_orderkey"), col("l_linenumber"),
          cents(col("l_extendedprice")).as("price_cents"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q02_agg_returnflag" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q03_join_broadcast" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(sum(cents(col("o_totalprice"))).as("revenue_cents"),
          count(lit(1)).as("n_orders"))
        .orderBy("c_mktsegment")
    }),

    "q04_antijoin" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 450000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))
        .orderBy("c_custkey")
    }),

    "q05_semijoin" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"))
        .orderBy("c_custkey")
    }),

    "q06_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rk"))
        .orderBy("o_custkey", "rk")
    }),

    "q07_union_distinct" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.filter(col("value") > 180).select(col("event_type"), col("user_id"))
        .union(e.filter(col("event_type") === "signup").select(col("event_type"), col("user_id")))
        .distinct()
        .orderBy("event_type", "user_id")
    }),

    "q08_sort_limit" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
    }),

    "q09_distinct_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"))
        .orderBy("l_returnflag")
    }),

    "q10_events_hourly" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .orderBy("hour", "event_type")
    }),

    "q11_region_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"))
        .orderBy("r_name")
    }),

    // --- crawl-semantics surrogates over the `documents` table (DuckDB-checked) ---

    "q12_exact_dedup" -> ((s, dir) => {
      // earliest-wins exact dedup on a content digest (J2 first-wins insert)
      val d = t(s, dir, "documents").withColumn("digest", md5(substring(col("text"), 1, 30)))
      val w = Window.partitionBy(col("digest")).orderBy(col("doc_id").asc)
      d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("digest"))
        .orderBy("digest")
    }),

    "q13_revisit_counters" -> ((s, dir) => {
      // response/revisit classification + the A1 counter arithmetic
      val d = t(s, dir, "documents").withColumn("digest", md5(substring(col("text"), 1, 30)))
      val w = Window.partitionBy(col("digest")).orderBy(col("doc_id").asc)
      d.withColumn("warc_type", when(row_number().over(w) === 1, "response").otherwise("revisit"))
        .groupBy(col("warc_type"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("bytes"))
        .orderBy("warc_type")
    }),

    "q14_dedup_tiers" -> ((s, dir) => {
      // three-tier precedence local -> doppelganger -> cdx (dialer.go:707-735)
      val d = t(s, dir, "documents").withColumn("digest", md5(col("text")))
      val local = d.filter(col("doc_id") % 10 === 0).select(col("digest").as("l_digest")).distinct()
      val dopp = d.filter(col("doc_id") % 10 === 1).select(col("digest").as("d_digest")).distinct()
      val cdx = d.filter(col("doc_id") % 10 === 2).select(col("digest").as("c_digest")).distinct()
      d.join(broadcast(local), col("digest") === col("l_digest"), "left")
        .join(broadcast(dopp), col("digest") === col("d_digest"), "left")
        .join(broadcast(cdx), col("digest") === col("c_digest"), "left")
        .select(col("doc_id"),
          when(col("l_digest").isNotNull, "local")
            .when(col("d_digest").isNotNull, "doppelganger")
            .when(col("c_digest").isNotNull, "cdx")
            .otherwise("none").as("tier"))
        .orderBy("doc_id")
    }),

    "q15_seen_antijoin" -> ((s, dir) => {
      // the URL-seen NOT EXISTS, executed through the bloom prefilter +
      // exact anti-join (same result as plain NOT EXISTS — no false negatives)
      val d = t(s, dir, "documents").withColumn("url_key", md5(col("text")))
      val seen = d.filter(col("doc_id") % 3 === 0).select("url_key")
      val filters = SeenSetOps.buildFilterTable(seen, "url_key", numShards = 4,
        blocksPerShard = 64, cuckooBucketsPerShard = 1 << 12)
      SeenSetOps.notSeen(d, "url_key", Some(filters), seen)
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    "q16_host_budget" -> ((s, dir) => {
      // per-host politeness budget = ranking-window top-k (W5)
      val d = t(s, dir, "documents")
        .withColumn("host", concat(lit("h"), (col("doc_id") % 7).cast("string")))
      val w = Window.partitionBy(col("host")).orderBy(col("n_chars").desc, col("doc_id").asc)
      d.withColumn("host_seq", row_number().over(w))
        .filter(col("host_seq") <= 5)
        .select(col("host"), col("doc_id"), col("host_seq"))
        .orderBy("host", "host_seq")
    }),

    "q17_url_canonicalize" -> ((s, dir) => {
      // RFC 3986 canonicalization of denormalized URLs (custom expression);
      // oracle constructs the expected canonical form directly
      t(s, dir, "documents")
        .withColumn("raw", concat(lit("HTTP://HOST"), (col("doc_id") % 20).cast("string"),
          lit(".EXAMPLE:80/a/../%70"), col("doc_id").cast("string"),
          lit("#frag")))
        .select(col("doc_id"), url_canonicalize(col("raw")).as("url_key"))
        .orderBy("doc_id")
    }),

    "q18_digest_sha256" -> ((s, dir) => {
      // gowarc-format sha256 digest column (custom expression, X4)
      t(s, dir, "documents")
        .select(col("doc_id"), warc_sha256_hex(col("text")).as("digest"))
        .orderBy("doc_id")
    }),

    "q19_text_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
          length(regexp_replace(col("text"), "\\s", "")).cast("long").as("n_chars_nospace"))
        .localCheckpoint(false) // barrier: the final sort's range
        // sampling otherwise re-evaluates the whole narrow chain (round 7)
        .orderBy("doc_id")
    }),

    "q20_stopword_langsig" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.groupBy(col("lang"))
        .agg(sum(TextOps.stopwordHits(col("text"), TextOps.StopwordsEn)).cast("long").as("en_hits"),
          sum(TextOps.stopwordHits(col("text"), TextOps.StopwordsDe)).cast("long").as("de_hits"),
          sum(TextOps.stopwordHits(col("text"), TextOps.StopwordsFr)).cast("long").as("fr_hits"),
          sum(TextOps.stopwordHits(col("text"), TextOps.StopwordsEs)).cast("long").as("es_hits"))
        .orderBy("lang")
    }),

    "q21_ngram_jaccard" -> ((s, dir) => {
      // output keeps DedupOps' single round(4) — re-rounding to 3 would
      // double-round (0.98649 -> 0.9865 -> 0.987 vs the oracle's 0.986)
      DedupOps.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text", n = 2, threshold = 0.2)
        .orderBy("id_a", "id_b")
    }),

    "q22_ann_threshold" -> ((s, dir) => {
      // brute-force cosine similarity search on integer-quantized embeddings
      // (quantization => exact arithmetic, cross-engine deterministic)
      val e = t(s, dir, "embeddings")
        .withColumn("vq", transform(col("embedding"), x => round(x * 1000, 0).cast("double")))
      val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("vq").as("qv"))
        .withColumn("qn", DedupOps.vecNorm(col("qv")))
      e.select(col("vec_id").as("id"), col("vq").as("v"))
        .withColumn("n", DedupOps.vecNorm(col("v"))) // staged once per vector
        .join(broadcast(q))
        .filter(col("qid") =!= col("id"))
        .withColumn("cosine", DedupOps.cosineFromParts(
          DedupOps.dotProduct(col("v"), col("qv")), col("n"), col("qn")))
        .filter(col("cosine") >= 0.25)
        .select(col("qid"), col("id"), round(col("cosine"), 3).as("cosine"))
        .orderBy("qid", "id")
    }),

    "q29_sessionize" -> ((s, dir) => {
      // gap-based sessionization (30 min) — the streaming-state analog in batch
      val e = t(s, dir, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      val gaps = e.withColumn("prev_ms", lag(unix_millis(col("ts").cast("timestamp")), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ms").isNull || unix_millis(col("ts").cast("timestamp")) - col("prev_ms") > 1800000L, 1).otherwise(0))
      gaps.withColumn("session_id", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"))
        .agg(max(col("session_id")).cast("long").as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    "q30_fingerprint_distinct" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(countDistinct(md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))).as("n_distinct"))
        .orderBy("lang")
    }),

    // --- record semantics: serialization + parsing operators (K2-K4, X1-X6) ---

    "q34_warc_serialize" -> ((s, dir) => {
      // byte-exact record serialization (K2): md5 + length cross-checked
      val d = t(s, dir, "documents")
      val rec = graft.warc.RecordSerializer.resourceRecord(
        concat(lit("<urn:uuid:rec-"), col("doc_id").cast("string"), lit(">")),
        lit("2023-11-14T22:13:20Z"),
        concat(lit("http://h"), (col("doc_id") % 7).cast("string"), lit(".example/d"),
          col("doc_id").cast("string")),
        lit("text/plain"), col("text"))
      d.select(col("doc_id"), length(rec).cast("long").as("rec_len"), md5(rec).as("rec_md5"))
        .localCheckpoint(false) // barrier: the final sort's range
        // sampling otherwise re-evaluates the whole narrow chain (round 7)
        .orderBy("doc_id")
    }),

    "q35_target_uri" -> ((s, dir) => {
      // X1: absolute target-URI reconstruction from request line + Host header
      val d = t(s, dir, "documents")
        .withColumn("req_line", concat(lit("GET /d"), col("doc_id").cast("string"), lit(" HTTP/1.1")))
        .withColumn("host_hdr", concat(lit("h"), (col("doc_id") % 7).cast("string"), lit(".example")))
      d.select(col("doc_id"),
        concat(lit("http://"), col("host_hdr"),
          regexp_extract(col("req_line"), "^[A-Z]+ (\\S+) HTTP", 1)).as("target_uri"))
        .orderBy("doc_id")
    }),

    "q36_end_of_headers" -> ((s, dir) => {
      // X2: end-of-headers cut = position after the first \r\n\r\n
      val d = t(s, dir, "documents")
        .withColumn("content", concat(
          lit("HTTP/1.1 200 OK\r\nContent-Length: "), col("n_chars").cast("string"),
          lit("\r\n\r\n"), col("text")))
      d.select(col("doc_id"),
        (locate("\r\n\r\n", col("content")) + 4).cast("long").as("cut_pos"))
        .orderBy("doc_id")
    }),

    "q37_cdx_parse" -> ((s, dir) => {
      // X5: CDX line field split + compact-timestamp parse (dedupe.go:75-91)
      val d = t(s, dir, "documents")
        .withColumn("line", concat(
          lit("example)/d"), col("doc_id").cast("string"),
          lit(" 20220320002518 http://h0.example/d"), col("doc_id").cast("string"),
          lit(" text/html 200 "), upper(md5(col("text"))), lit(" "), col("n_chars").cast("string")))
        .withColumn("f", split(col("line"), " "))
      d.select(col("doc_id"),
        date_format(to_timestamp(col("f").getItem(1), "yyyyMMddHHmmss"),
          "yyyy-MM-dd HH:mm:ss").as("capture_ts"),
        col("f").getItem(5).as("cdx_digest"),
        col("f").getItem(6).cast("long").as("cdx_size"))
        .orderBy("doc_id")
    }),

    "q38_header_map" -> ((s, dir) => {
      // P1: case-insensitive header projection over a MapType column
      val d = t(s, dir, "documents")
        .withColumn("headers", map(
          lit("content-type"), lit("text/html"),
          lit("content-length"), col("n_chars").cast("string"),
          lit("x-lang"), col("lang")))
      d.select(col("doc_id"),
        element_at(col("headers"), lower(lit("Content-Length"))).cast("long").as("content_length"),
        element_at(col("headers"), lower(lit("X-Lang"))).as("lang_hdr"))
        .orderBy("doc_id")
    }),

    "q39_filename_serial" -> ((s, dir) => {
      // K4: rotated-file naming with %05d serial padding (file.go:14-70)
      t(s, dir, "documents")
        .select(col("doc_id"), graft.warc.RecordSerializer.warcFilename(
          lit("GRAFT"), lit("20231114221320000"),
          (col("doc_id") % 99999 + 1).cast("int"),
          concat(lit("h"), (col("doc_id") % 7).cast("string"))).as("filename"))
        .orderBy("doc_id")
    }),

    "q40_content_length_sum" -> ((s, dir) => {
      // A5: the content-length-sum invariant (client_test.go:70-107) per lang
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(sum(col("n_chars")).cast("long").as("total_bytes"), count(lit(1)).as("n_docs"))
        .orderBy("lang")
    }),

    "q41_doppelganger_json" -> ((s, dir) => {
      // X6: Doppelganger JSON response parse (dedupe.go:117-139)
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      val schema = StructType(Seq(StructField("id", StringType),
        StructField("uri", StringType), StructField("date", StringType)))
      val d = t(s, dir, "documents")
        .withColumn("json", concat(
          lit("{\"id\":\"dg-"), col("doc_id").cast("string"),
          lit("\",\"uri\":\"http://h0.example/d"), col("doc_id").cast("string"),
          lit("\",\"date\":\"20220101000000\"}")))
      d.select(col("doc_id"), from_json(col("json"), schema).as("j"))
        .select(col("doc_id"), col("j.id").as("dg_id"), col("j.uri").as("dg_uri"),
          col("j.date").as("dg_date"))
        .orderBy("doc_id")
    }),

    "q42_http_parse" -> ((s, dir) => {
      // X3/P3: HTTP status + case-insensitive header parse + request detection
      val d = t(s, dir, "documents")
        .withColumn("resp", concat(
          lit("HTTP/1.1 200 OK\r\ncontent-type: text/html; charset=utf-8\r\nContent-Length: "),
          col("n_chars").cast("string"), lit("\r\n\r\n"), col("text")))
        .withColumn("req_line", concat(lit("GET /d"), col("doc_id").cast("string"),
          when(col("doc_id") % 5 === 0, lit(" HTTP/2")).otherwise(lit(" HTTP/1.1"))))
      d.select(col("doc_id"),
        graft.warc.HttpExprs.parseStatus(col("resp")).as("status"),
        graft.warc.HttpExprs.parseHttpHeader(col("resp"), "Content-Type").as("content_type"),
        graft.warc.HttpExprs.isHttpRequest(col("req_line")).as("is_request"))
        .orderBy("doc_id")
    }),

    "q43_extract_report" -> ((s, dir) => {
      // A2: content-type histogram (extract.go:50-64,284-296)
      val d = t(s, dir, "documents")
        .withColumn("content_type",
          when(col("doc_id") % 4 === 0, "image/png")
            .when(col("doc_id") % 4 === 1, "text/html; charset=utf-8")
            .otherwise("text/plain"))
      graft.jobs.Extract.report(d, col("content_type")).orderBy("content_type")
    }),

    "q44_sanitize_names" -> ((s, dir) => {
      // X8: filename sanitize + cap-keeping-extension + X10 human bytes
      val d = t(s, dir, "documents")
        .withColumn("raw_name", concat(lit("dir/sub\\file-"),
          repeat(lit("x"), (col("doc_id") % 80).cast("int")), lit("-"),
          col("doc_id").cast("string"), lit(".html")))
      d.select(col("doc_id"),
        graft.jobs.Extract.sanitizeFilename(col("raw_name"), 64).as("filename"),
        graft.jobs.Extract.humanBytes(col("n_chars") * 100).as("size_h"))
        .orderBy("doc_id")
    }),

    // --- engine-native ops (no SQL equivalent -> rows-only driver check) ---

    "q23_minhash_lsh" -> ((s, dir) => {
      DedupOps.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 5, numHashes = 32, bandsCount = 8, threshold = 0.4)
        .localCheckpoint(false) // barrier: the final sort's range
        // sampling otherwise re-runs the verify joins (round 7)
        .orderBy("id_a", "id_b")
    }),

    "q24_simhash" -> ((s, dir) => {
      DedupOps.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 16)
        .orderBy("id_a", "id_b")
    }),

    "q25_embedding_neardup" -> ((s, dir) => {
      DedupOps.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        numPlanes = 8, threshold = 0.3)
        .orderBy("id_a", "id_b")
    }),

    "q26_ann_ivf_topk" -> ((s, dir) => {
      // ORACLE-CHECKABLE IVF: quantized embeddings (exact arithmetic, the
      // q27 trick) + nprobe = nlist — an exhaustive probe scores every
      // (vector, query) pair exactly once, so the IVF machinery (centroids,
      // assignment argmin, probe join, per-cluster scoring) must reproduce
      // brute force BY CONSTRUCTION and DuckDB can check it. The pruned
      // nprobe < nlist path is asserted against this machinery in
      // AnnIndexSpec (indexed == in-memory == pruned-probe recall case).
      val e = t(s, dir, "embeddings")
        .withColumn("vq", transform(col("embedding"), x => round(x * 1000, 0).cast("double")))
      AnnOps.ivfTopK(e, "vec_id", "vq",
        e.filter(col("vec_id") < 5), "vec_id", "vq",
        k = 10, nlist = 8, nprobe = 8)
        .orderBy("qid", "rank")
    }),

    "q27_ann_brute_topk" -> ((s, dir) => {
      // integer-quantized embeddings (the q22 trick): dot products and norms
      // become exact integer-valued doubles, so cosine values — and therefore
      // the top-k ranking with its (cosine DESC, id ASC) tie-break — are
      // bit-identical across engines, making the top-k DuckDB-oracle-checkable
      val e = t(s, dir, "embeddings")
        .withColumn("vq", transform(col("embedding"), x => round(x * 1000, 0).cast("double")))
      AnnOps.cosineTopK(e, "vec_id", "vq",
        e.filter(col("vec_id") < 5), "vec_id", "vq", k = 10)
        .orderBy("qid", "rank")
    }),

    "q28_media_features" -> ((s, dir) => {
      // REAL decode: PNG via ImageIO, WAV via AudioSystem, MJPEG video split
      // on JPEG segment structure and decoded per frame (width/height and
      // n_frames come from the decoded pixels/frames, not metadata)
      val media = Multimodal.mediaTable(SyntheticWeb.pages(s, 500))
      Multimodal.extractFeatures(s, media, dim = 16).toDF()
        .select(col("media_id"), col("kind"), col("ok"),
          col("width"), col("height"),
          size(col("features")).as("dim"), col("n_frames"))
        .orderBy("media_id")
    }),

    "q31_crawl_round" -> ((s, dir) => {
      val n = 500L
      // two rounds through the one crawl-round path; the per-round counters
      // ride the round's own materializations (CrawlSpec checks them
      // against recounts of these warc rows)
      graft.jobs.Crawl.run(s, SyntheticWeb.pages(s, n), SyntheticWeb.seeds(s, 200, n),
        Some(SyntheticWeb.robots(s)), Some(SyntheticWeb.doppelganger(s, n)),
        Some(SyntheticWeb.cdx(s, n)),
        graft.jobs.Crawl.Config(maxRounds = 2, perHostBudget = 40, numSlots = 8,
          dedupSizeThreshold = 32, numShards = 4),
        dns = Some(SyntheticWeb.dns(s)))
        .warcRows
        .groupBy(col("round"), col("warc_type"), col("dedupe_source"))
        .agg(count(lit(1)).as("n"), sum(col("content_length")).as("bytes"))
        .orderBy("round", "warc_type", "dedupe_source")
    }),

    "q32_langid" -> ((s, dir) => {
      // staged frame API: tokenize once, four score attributes, cheap argmax
      // (the column-API langId recomputes the tokenize per language and per
      // fold copy — HOFs get no codegen CSE; measured 1.7 -> 0.7 s warm)
      TextOps.langIdReport(t(s, dir, "documents").select("text"), "text")
        .groupBy(col("lang").as("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang_pred")
    }),

    "q33_quality_score" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(TextOps.qualityScore(col("text")).as("score"))
        .agg(count(lit(1)).as("n"))
        .orderBy("score")
    }),

    "q46_truncation_guard" -> ((s, dir) => {
      // oversize-response cut (client.go:190-194): keep the first `cap`
      // bytes, flag WARC-Truncated: length — same expressions Fetch applies
      val cap = 500
      t(s, dir, "documents")
        .select(col("doc_id"),
          (length(col("text")) > cap).as("truncated"),
          when(length(col("text")) > cap, lit("length"))
            .otherwise(lit("")).as("warc_truncated"), // null-free for the hash compare
          length(substring(col("text"), 1, cap)).cast("long").as("kept_len"))
        .orderBy("doc_id")
    }),

    "q47_disposition_filename" -> ((s, dir) => {
      // Content-Disposition filename override (extract.go:121-146)
      val d = t(s, dir, "documents")
        .withColumn("cd",
          when(col("doc_id") % 3 === 0,
            concat(lit("attachment; filename=\"quoted-"), col("doc_id").cast("string"), lit(".pdf\"")))
            .when(col("doc_id") % 3 === 1,
              concat(lit("inline; filename=bare-"), col("doc_id").cast("string"), lit(".bin; size=3")))
            .otherwise(lit(null).cast("string")))
      d.select(col("doc_id"),
        graft.jobs.Extract.dispositionFilename(col("cd"),
          concat(lit("fallback-"), col("doc_id").cast("string"), lit(".html"))).as("filename"))
        .orderBy("doc_id")
    }),

    "q45_digest_blake3" -> ((s, dir) => {
      // X4 full algo parity: BLAKE3 in gowarc's prefixed format (digest.go:73-76);
      // spec-implemented, golden-tested — no DuckDB blake3, so rows-only check
      t(s, dir, "documents")
        .select(col("doc_id"), graft.functions.WarcDigest.warc_blake3(col("text")).as("digest"))
        .orderBy("doc_id")
    }),

    // --- corpus-assembly ops: mixing, packing, decontamination (PipelineOps) ---

    "q49_bpe_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.bpeTokenCount(col("text")).cast("long").as("n_bpe"))
        .localCheckpoint(false) // barrier: the final sort's range
        // sampling otherwise re-evaluates the whole narrow chain (round 7)
        .orderBy("doc_id")
    }),

    "q50_stratified_sample" -> ((s, dir) => {
      // deterministic data mixing: per-language keep rates, decided by a
      // portable md5-derived uniform — reproducible across engines/partitionings
      graft.ops.PipelineOps.stratifiedSample(t(s, dir, "documents"),
        "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1, "zh" -> 0.3), defaultRate = 0.05)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    "q51_sequence_pack" -> ((s, dir) => {
      // concat-then-chunk packing onto 2048-token sequences; the global
      // offset is a two-phase parallel prefix sum, not a one-partition window
      graft.ops.PipelineOps.packSequences(t(s, dir, "documents"),
        "doc_id", "doc_id", TextOps.tokenCount(col("text")), budget = 2048)
        .orderBy("doc_id")
    }),

    "q52_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: flag documents sharing any word 8-gram
      // with the "evaluation" slice (every 25th document)
      val docs = t(s, dir, "documents")
      val eval = docs.filter(col("doc_id") % 25 === 0).select(col("text").as("eval_text"))
      graft.ops.PipelineOps.contaminationFlags(docs, "doc_id", "text", eval, "eval_text", n = 8)
        .select(col("doc_id"), col("contaminated"))
        .orderBy("doc_id")
    }),

    "q53_weighted_mix" -> ((s, dir) => {
      // epoch mixture with OVERSAMPLING: weight 2.5 = two full copies plus a
      // hash-decided half; deterministic per (doc_id, copy)
      graft.ops.PipelineOps.mixWeighted(t(s, dir, "documents"),
        "lang", "doc_id",
        Map("en" -> 2.5, "de" -> 1.0, "zh" -> 0.0), defaultWeight = 0.25)
        .select(col("doc_id"), col("lang"), col("copy"))
        .orderBy("doc_id", "copy")
    }),

    "q54_materialize_sequences" -> ((s, dir) => {
      // the packing finisher: straddling documents split at sequence
      // boundaries, exact 2048-token training sequences reassembled
      graft.ops.PipelineOps.materializeSequences(t(s, dir, "documents"),
        "doc_id", "doc_id", "text", budget = 2048)
        .orderBy("seq_id")
    }),

    "q55_gopher_signals" -> ((s, dir) => {
      // Gopher/C4 repetition + shape filters; toks/lines/grams staged ONCE
      // as attributes, each signal computed once, the gate composed from the
      // signal COLUMNS (HOF-recompute discipline, twice over)
      // STRING grams staged once, serving both the duplicate-count fraction
      // and Gopher's top-n-gram CHARACTER fraction (gram length matters)
      val staged = t(s, dir, "documents").select(col("doc_id"),
        length(col("text")).cast("long").as("text_len"),
        TextOps.tokens(col("text")).as("toks"),
        TextOps.docLines(col("text")).as("lines"))
        .withColumn("grams", TextOps.wordNgramsFromTokens(col("toks"), 2))
        .localCheckpoint(false) // two branches (row signals + gram agg) share
        // one tokenize; lazy — the first branch's job materializes it
      val top = TextOps.topNgramCharFractionAgg(staged, "doc_id", "grams", "text_len")
        .withColumnRenamed("top_ngram_char_frac", "top_2gram_char_frac")
      val signals = staged.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        TextOps.dupLineFraction(col("lines")).as("dup_line_frac"),
        TextOps.dupFraction(col("grams")).as("dup_2gram_frac"),
        TextOps.ellipsisLineFraction(col("lines")).as("ellipsis_frac"),
        TextOps.alphaWordFraction(col("toks")).as("alpha_frac"),
        TextOps.meanWordLength(col("toks")).as("mean_word_len"))
        .join(top, "doc_id")
      signals.select(col("doc_id"), col("n_words"),
        round(col("dup_line_frac"), 4).as("dup_line_frac"),
        round(col("dup_2gram_frac"), 4).as("dup_2gram_frac"),
        round(col("top_2gram_char_frac"), 4).as("top_2gram_char_frac"),
        round(col("ellipsis_frac"), 4).as("ellipsis_frac"),
        round(col("alpha_frac"), 4).as("alpha_frac"),
        round(col("mean_word_len"), 4).as("mean_word_len"),
        TextOps.gopherPassFromSignals(col("n_words"), col("mean_word_len"),
          col("alpha_frac"), col("ellipsis_frac"), col("dup_line_frac"),
          col("dup_2gram_frac")).as("gopher_pass"))
        .orderBy("doc_id")
    }),

    "q56_simhash_portable" -> ((s, dir) => {
      // the SAME simhash vote/band/Hamming machinery as q24, but over
      // md5-derived token hashes BOTH engines can compute — converting the
      // sketch pipeline itself into an oracle-checkable operator (q24 keeps
      // the fast xxhash64 kernel; empty-token docs excluded on both sides)
      val d = t(s, dir, "documents").filter(TextOps.tokenCount(col("text")) > 0)
      // round 7: the per-token portable hash runs as the one-pass
      // portable_hash64_tokens kernel (bit-identical to the HOF
      // transform(toks, portableHash64) chain — same first-8-md5-bytes
      // values, no per-token hex-string/conv detour)
      DedupOps.simhashPairsH(d, "doc_id", "text", maxHamming = 16,
        graft.functions.SketchExprs.portable_hash64_tokens)
        .orderBy("id_a", "id_b")
    }),

    "q58_srp_portable" -> ((s, dir) => {
      // SRP-LSH over portable hyperplanes + quantized vectors: projections
      // are exact dyadic arithmetic, so DuckDB reproduces signatures,
      // buckets, and the cosine verification (q25 keeps xxhash64 planes)
      val e = t(s, dir, "embeddings")
        .withColumn("vq", transform(col("embedding"), x => round(x * 1000, 0).cast("double")))
      // dim=64 (the embeddings fixture dimension) folds every hyperplane
      // component to a literal at plan time — same values, no runtime md5
      DedupOps.embeddingNearDupPairsPortable(e, "vec_id", "vq",
        numPlanes = 8, threshold = 0.3, dim = 64)
        .orderBy("id_a", "id_b")
    }),

    "q57_minhash_portable" -> ((s, dir) => {
      // the MinHash-LSH machinery over portable hashes on the FULL corpus
      // (near-dups land on random id distances, so any modulo slice empties
      // the pair set — measured: the old 1/20 slice verified 0 pairs) —
      // DuckDB reconstructs the once-per-shingle md5 hash, the XOR-salted
      // per-slot mins, band keys, the candidate join, and the exact-Jaccard
      // verification (q23 keeps the fast kernel + exact-dup pre-pass,
      // rows-only)
      DedupOps.minhashLshPairsPortable(t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 5, numHashes = 16, bandsCount = 4, threshold = 0.4)
        .localCheckpoint(false) // barrier: the final sort's range
        // sampling otherwise re-runs the verify joins (round 7)
        .orderBy("id_a", "id_b")
    }),

    "q59_chunk_dedup" -> ((s, dir) => {
      // chunk-aligned exact-substring dedup (ExactSubstr's shuffle-friendly
      // variant): repeated 10-token chunks removed corpus-wide, first
      // occurrence wins, text reassembled in order
      DedupOps.chunkDedup(t(s, dir, "documents"), "doc_id", "text", chunkTokens = 10)
        .select(col("id").cast("long").as("doc_id"), col("text"),
          col("n_chunks"), col("n_dropped"))
        .orderBy("doc_id")
    }),

    "q60_pii_scrub" -> ((s, dir) => {
      // PII scrubbing over deterministically-injected PII (the corpus has
      // none; both engines build the SAME injected text from doc_id, so the
      // scrub machinery is verified on real replacements, not a no-op —
      // the q57 vacuous-pass lesson applied in advance)
      val injected = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail"), pmod(col("doc_id"), lit(7)).cast("string"), lit(".example.com"),
          lit(" or +1-555-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" call (555) "), lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
          lit("-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" via 2001:db8:"), pmod(col("doc_id"), lit(9999)).cast("string"),
          lit("::"), (pmod(col("doc_id"), lit(99)) + 1).cast("string"),
          lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
          lit("."), (pmod(col("doc_id"), lit(254)) + 1).cast("string")
        ).as("raw"))
      // fused report form: ONE matcher pass per chain stage counts AND
      // replaces (RegexScrubCount kernel; 5 regex passes/row, not 10 —
      // the composed piiScrub+piiCounts columns would be O(chain²))
      graft.ops.TextOps.piiReport(injected, "raw")
        .select(col("doc_id"), col("clean"), col("n_email"), col("n_phone"),
          col("n_phone_nat"), col("n_ipv6"), col("n_ip"))
        .localCheckpoint(false) // barrier: the final sort's range
        // sampling otherwise re-evaluates the whole narrow chain (round 7)
        .orderBy("doc_id")
    }),

    "q61_epoch_shuffle" -> ((s, dir) => {
      // seeded epoch order with a contiguous global rank (two-phase prefix
      // sum — not a one-partition window); DuckDB reproduces the md5 order
      graft.ops.PipelineOps.epochShuffle(t(s, dir, "documents"), "doc_id", seed = 7L)
        .select(col("doc_id"), col("epoch_rank"))
        .orderBy("doc_id")
    }),

    "q62_split_assign" -> ((s, dir) => {
      graft.ops.PipelineOps.assignSplits(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), seed = 3L)
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }),

    "q63_bpe_encode" -> ((s, dir) => {
      // REAL merge-table token ids (not the q49 pretokenizer-count proxy):
      // encode under the frozen BpeFixture model via the codegen
      // BpeEncode kernel. The struct is staged as an attribute first —
      // reading tokens/ids off a repeated bpeEncode(...) call would run
      // the encoder once per field
      val enc = t(s, dir, "documents")
        .select(col("doc_id"),
          graft.ops.BpeOps.bpeEncode(col("text"), graft.functions.BpeFixture.model).as("e"))
      enc.select(col("doc_id"),
          size(col("e.tokens")).cast("long").as("n_tokens"),
          concat_ws("|", col("e.tokens")).as("tok_str"),
          concat_ws(",", col("e.ids")).as("id_str"))
        .orderBy("doc_id")
    }),

    "q64_pack_bpe" -> ((s, dir) => {
      // REAL-token-budget packing: q63's merge-table ids feed q51's packer,
      // so sequence budgets count model tokens, not the pretokenizer proxy
      val enc = t(s, dir, "documents")
        .select(col("doc_id"),
          graft.ops.BpeOps.bpeEncode(col("text"), graft.functions.BpeFixture.model).as("e"))
        .select(col("doc_id"), size(col("e.ids")).cast("long").as("n_tok"))
      graft.ops.PipelineOps.packSequences(enc, "doc_id", "doc_id",
        col("n_tok"), budget = 512)
        .orderBy("doc_id")
    }),

    "q65_lm_perplexity" -> ((s, dir) => {
      // CCNet-style bigram-LM quality score, trained on the corpus itself.
      // The synthetic vocabulary is tiny (31 words, min count 26 even at
      // sf0.01), so the <unk> path would be VACUOUS on the raw table — the
      // q57/q60 lesson applied in advance: a deterministic md5 coin injects
      // one rare word into 1/4 of the docs (class 0: document-INITIAL, so
      // <unk> is a bigram CONTEXT; class 1: document-FINAL, so <unk> is a
      // bigram TARGET), and injected docs verifiably score worse
      val m = md5(col("doc_id").cast("string"))
      val coin = conv(substring(m, 1, 8), 16, 10).cast("long") % 8
      val noisy = t(s, dir, "documents").withColumn("text",
        when(coin === 0, concat(lit("q"), substring(m, 1, 4), lit(" "), col("text")))
          .when(coin === 1, concat(col("text"), lit(" q"), substring(m, 1, 4)))
          .otherwise(col("text")))
      TextOps.ngramLmPerplexity(noisy, "doc_id", "text", minCount = 5)
        .orderBy("doc_id")
    }),

    "q66_boilerplate_lines" -> ((s, dir) => {
      // cross-corpus boilerplate-line REMOVAL. The synthetic docs are
      // single-line, so boilerplate is injected deterministically: an md5
      // coin appends/prepends shared banner lines to 3/8 of the docs (two
      // classes share one line — crossing the threshold together — and one
      // class carries a two-line banner), and the ORIGINAL text line of
      // every doc survives, order preserved
      val m = md5(col("doc_id").cast("string"))
      val coin = conv(substring(m, 1, 8), 16, 10).cast("long") % 8
      val noisy = t(s, dir, "documents").withColumn("text",
        when(coin === 0, concat(col("text"), lit("\nsubscribe to our newsletter today")))
          .when(coin === 1, concat(col("text"),
            lit("\nsubscribe to our newsletter today\nall rights reserved worldwide")))
          .when(coin === 2, concat(lit("this site uses cookies\n"), col("text")))
          .otherwise(col("text")))
      TextOps.dropBoilerplateLines(noisy, "doc_id", "text", minDocs = 50)
        .orderBy("doc_id")
    }),

    "q72_outlinks" -> ((s, dir) => {
      // real link discovery over templated pages: href/src extraction
      // (single-sourced LinkAttrPattern), non-fetchable-scheme filter,
      // RFC 3986 §5.2 resolution against the page URI, canonicalization,
      // per-page dedup — the operator the crawl's parseLinks mode runs.
      // Battery per page: relative, ../ dot-segments, path-absolute,
      // protocol-relative, query-only, fragment-only, absolute-denormalized,
      // mailto/javascript (dropped), a duplicate, and a single-quoted src
      val d = col("doc_id").cast("string")
      val page = concat(lit("http://h"), (col("doc_id") % 7).cast("string"),
        lit(".example/d/"), d, lit("/index.html"))
      val html = concat(
        lit("<html><body><a href=\"a"), d, lit(".html\">1</a><a href='../up/x"), d,
        lit("'>2</a><a href=\"/abs/p"), d,
        lit("\">3</a><script src=\"//cdn"), (col("doc_id") % 3).cast("string"),
        lit(".example/lib.js\"></script><a href=\"?v="), d,
        lit("\">5</a><a href=\"#sec\">6</a><a href=\"HTTP://EXT.Example:80/Q"), d,
        lit("\">7</a><a href=\"mailto:u"), d,
        lit("@x.example\">8</a><a href=\"javascript:void(0)\">9</a><a href=\"a"), d,
        lit(".html\">dup</a><img src='img"), d, lit(".png'></body></html>"))
      val fetched = t(s, dir, "documents").select(
        page.as("url_key"), lit(200).as("status"), lit(1).as("priority"),
        lit(0).as("depth"), html.as("payload"))
      graft.fetch.Fetch.outlinksFromHtml(fetched,
        graft.fetch.Fetch.Config(round = 1, roundEpoch = 1700000000L, parseLinks = true))
        .select(col("via"), col("url"), col("depth").cast("long").as("depth"))
        .localCheckpoint(false) // barrier: the final sort's range
        // sampling otherwise re-evaluates the whole narrow chain (round 7)
        .orderBy("via", "url")
    }),

    "q74_cdx_line" -> ((s, dir) => {
      // CDX index-line construction over denormalized capture fields: SURT
      // url key (surt_key expression: canonicalize -> reversed host labels,
      // default-port elision, dot-segment removal all exercised), 14-digit
      // timestamp as a pure string transform, MIME parameter strip, and the
      // classic 11-field line; oracle constructs the expected key per q17's
      // precedent (SURT goldens live in CdxIndexSpec)
      import graft.functions.SurtKey.surt_key
      val d = col("doc_id").cast("string")
      val url = concat(lit("HTTP://WWW.Host"), (col("doc_id") % 20).cast("string"),
        lit(".EXAMPLE"), when(col("doc_id") % 2 === 0, lit(":80")).otherwise(lit(":8080")),
        lit("/A"), d, lit("/../p"), d, lit("?x="), d)
      val mime = lit("text/html; charset=utf-8")
      val staged = t(s, dir, "documents").select(col("doc_id"),
        surt_key(url).as("urlkey"),
        regexp_replace(lit("2023-11-14T22:13:20Z"), "[-:TZ]", "").as("ts"),
        url.as("original"),
        trim(regexp_extract(mime, "^[^;]*", 0)).as("mimetype"),
        when(col("doc_id") % 10 === 0, lit("404")).otherwise(lit("200")).as("statuscode"),
        concat(lit("sha1:"), upper(md5(d))).as("digest"),
        (lit(1000) + col("doc_id")).cast("string").as("length"),
        (col("doc_id") * lit(2048)).cast("string").as("offset"),
        concat(lit("GRAFT-"), lpad(d, 5, "0"), lit(".warc.gz")).as("filename"))
      staged.select(col("doc_id"), col("urlkey"),
        concat_ws(" ", col("urlkey"), col("ts"), col("original"), col("mimetype"),
          col("statuscode"), col("digest"), lit("-"), lit("-"),
          col("length"), col("offset"), col("filename")).as("cdx_line"))
        .orderBy("doc_id")
    }),

    "q75_cdx_nearest" -> ((s, dir) => {
      // wayback-style nearest-capture lookup (CdxIndex.nearestCaptures, the
      // query side of the q74 index): index synthesized from documents (one
      // capture per doc, 37 host groups), one target per group; numeric-
      // nearest with the earlier-wins tie-break, which the oracle replays as
      // row_number(ORDER BY diff, ts). Exercises the surt_key bridge on the
      // target side and the map-side-combinable min(struct) pick (no window
      // over the capture history — hot URLs stay parallel at 100 TB).
      val g = (col("doc_id") % 37).cast("string")
      val d = col("doc_id").cast("string")
      val index = t(s, dir, "documents").select(
        concat(lit("example,h"), g, lit(")/p")).as("urlkey"),
        (lit(20200101000000L) + col("doc_id") * 7).cast("string").as("timestamp"),
        concat(lit("http://h"), g, lit(".example/p?v="), d).as("original"),
        lit("text/html").as("mimetype"),
        when(col("doc_id") % 9 === 0, lit("404")).otherwise(lit("200")).as("statuscode"),
        concat(lit("sha1:"), upper(md5(d))).as("digest"),
        (lit(500) + col("doc_id")).cast("string").as("length"),
        (col("doc_id") * lit(1024)).cast("string").as("offset"),
        concat(lit("GRAFT-"), lpad(g, 5, "0"), lit(".warc.gz")).as("filename"))
      val targets = t(s, dir, "documents")
        .select((col("doc_id") % 37).as("grp")).distinct()
        .select(concat(lit("http://h"), col("grp").cast("string"),
          lit(".example/p")).as("url"),
          (lit(20200101000000L) + col("grp") * 123 + 50).as("ts"))
      graft.jobs.CdxIndex.nearestCaptures(index, targets).orderBy("urlkey")
    }),

    "q76_pagerank" -> ((s, dir) => {
      // host-graph PageRank (GraphOps.pageRank: the crawl-prioritization
      // signal) on a 41-host synthetic link graph, 4 power iterations,
      // damping 0.5 (exactly representable — the (1-d) constant is then
      // bit-identical across engines; float sum order still differs at
      // ~1e-16 so ranks are quantized to 6 decimals on both sides). The
      // oracle unrolls the iterations as chained CTEs.
      val docs = t(s, dir, "documents")
      val edges = docs.select((col("doc_id") % 41).as("src"),
          ((col("doc_id") * 7 + 3) % 41).as("dst"))
        .union(docs.select((col("doc_id") % 41).as("src"),
          ((col("doc_id") * 13 + 5) % 41).as("dst")))
      // (round 7: tried checkpointEvery=4 to skip the mid-run checkpoint —
      // measured SLOWER, 1.0 -> 1.4 s: the iteration-3 cut also keeps the
      // final job's analyzed plan small. Default cadence kept.)
      graft.ops.GraphOps.pageRank(edges, "src", "dst",
          iterations = 4, damping = 0.5)
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")
    }),

    "q77_domain_cap" -> ((s, dir) => {
      // per-domain frequency cap (PipelineOps.capPerKey): 23 synthetic
      // domains over documents, cap 5 — exact via the bounded kth-smallest
      // aggregate (partial state <= k coins per task; never a rank window,
      // so a hot domain stays parallel); the oracle replays the cap in its
      // row_number form over the IDENTICAL md5 coin
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 23).as("domain"))
      graft.ops.PipelineOps.capPerKey(docs, "domain", "doc_id", 5, seed = "graft")
        .select("doc_id", "domain").orderBy("doc_id")
    }),

    "q78_quality_classifier" -> ((s, dir) => {
      // fastText-style quality classifier (Classifier.train + score):
      // labels and a learnable marker injected deterministically (docs with
      // doc_id%3==0 are the 'good' class and carry an 'xgood xgood'
      // prefix); TWO GD epochs so the oracle can replay the ENTIRE
      // micro-quantized training loop in SQL — weights are BIGINT micros,
      // every cross-row aggregate is quantized on both sides, so the two
      // engines land on identical model integers before scoring
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(lit("xgood xgood "), col("text")))
          .otherwise(col("text")).as("text"),
        (col("doc_id") % 3 === 0).cast("int").as("y"))
      // one feature build feeds BOTH training and scoring (trainOnFeatures/
      // scoreFeatures reuse path); staged like q55/q57 — a production run
      // would persist to storage instead
      val feats = graft.ops.Classifier.features(docs, "doc_id", "text", 256)
        .localCheckpoint(false) // lazy: trainOnFeatures' label count is the
      // first action and materializes it — one job, not two
      val model = graft.ops.Classifier.trainOnFeatures(feats,
        docs.select(col("doc_id").as("id"), col("y")), epochs = 2, lr = 0.5)
      graft.ops.Classifier.scoreFeatures(feats, model)
        .select(col("id").as("doc_id"), round(col("score"), 5).as("score"))
        .orderBy("doc_id")
    }),

    "q86_degree_report" -> ((s, dir) => {
      // link-graph degree/reciprocity report (GraphOps.degreeReport) on the
      // same 41-host synthetic graph as q76 — out/in degrees and the
      // reciprocal-edge count (the link-farm signal); oracle replays the
      // dedup + reverse-semi-join relationally
      val docs = t(s, dir, "documents")
      val edges = docs.select((col("doc_id") % 41).as("src"),
          ((col("doc_id") * 7 + 3) % 41).as("dst"))
        .union(docs.select((col("doc_id") % 41).as("src"),
          ((col("doc_id") * 13 + 5) % 41).as("dst")))
      graft.ops.GraphOps.degreeReport(edges, "src", "dst").orderBy("node")
    }),

    "q85_exact_substring" -> ((s, dir) => {
      // UNALIGNED exact-substring dedup (DedupOps.exactSubstringDedup, the
      // Lee-et-al ExactSubstr semantics): duplicated 8-token runs keep
      // their first (doc_id, pos) occurrence, every other occurrence is
      // excised at any alignment. Round 7: runs the O(n) rolling-hash fast
      // kernel — the OUTPUT is key-family-independent (exact duplicate
      // detection, not a sketch: any collision-free hash finds the same
      // duplicated runs; fast ≡ portable is asserted in DedupOpsSpec and
      // the result still hash-matches the oracle's md5 replay — verified
      // against the oracle SQL in DuckDB 1.0.0 at sf0.01 this round). The
      // O(n·k) per-shingle md5 kernel measured 2.1x the whole operator
      // (1.93 s vs 0.92 s warm at sf0.1).
      graft.ops.DedupOps.exactSubstringDedup(
          t(s, dir, "documents"), "doc_id", "text", minTokens = 8,
          portableKeys = false)
        .select(col("id").as("doc_id"), col("text"), col("n_dropped"))
        .orderBy("doc_id")
    }),

    "q84_sitemap_extract" -> ((s, dir) => {
      // sitemap seed discovery (TextOps.extractSitemapUrls): synthetic
      // <urlset> per doc with entity-escaped query strings, whitespace
      // padding, and non-loc elements; the oracle replays the SAME
      // single-sourced pattern + unescape chain
      val d = col("doc_id").cast("string")
      val xml = concat(
        lit("<?xml version=\"1.0\"?><urlset><url><loc> http://s"), d,
        lit(".example/p?a=1&amp;b=2 </loc></url><url><loc>http://s"), d,
        lit(".example/q</loc></url><lastmod>2024-01-01</lastmod></urlset>"))
      t(s, dir, "documents").select(col("doc_id"),
          explode(graft.ops.TextOps.extractSitemapUrls(xml)).as("url"))
        .orderBy("doc_id", "url")
    }),

    "q83_recrawl_schedule" -> ((s, dir) => {
      // adaptive revisit policy (frontier/Recrawl.schedule): capture
      // history synthesized from documents (40 urlkeys, per-group change
      // rates), interval = span / (versions-1) clamped — version COUNT not
      // adjacency, so no window over capture history; the one float (the
      // division) floors into integer space on both engines
      val g = col("doc_id") % 40
      val i = floor(col("doc_id") / lit(40))
      val hist = t(s, dir, "documents").select(
        concat(lit("k"), g.cast("string")).as("urlkey"),
        (lit(1700000000L) + col("doc_id") * 37).as("ts"),
        concat(lit("d"), g.cast("string"), lit("_"),
          floor(i / (g % 4 + 1)).cast("long").cast("string")).as("digest"))
      graft.frontier.Recrawl.schedule(hist, "urlkey", "ts", "digest")
        .orderBy("urlkey")
    }),

    "q82_bm25" -> ((s, dir) => {
      // BM25 corpus search (TextOps.bm25ScoreMicro): per-doc score against
      // a fixed 3-term query, Lucene smooth-idf, k1=1.2 b=0.75; every
      // (doc, term) contribution quantizes to micros BEFORE the per-doc
      // sum (q65/q78 discipline), so the oracle replays to identical
      // integers — the only cross-row aggregates are counts and int sums
      graft.ops.TextOps.bm25ScoreMicro(t(s, dir, "documents"),
          "doc_id", "text", Seq("join", "vector", "scan"))
        .select(col("id").as("doc_id"), col("score_micro"))
        .orderBy("doc_id")
    }),

    "q81_crossdoc_ngrams" -> ((s, dir) => {
      // corpus-level duplicate-n-gram report (TextOps.crossDocNgramReport):
      // per doc, the fraction of its distinct 3-grams shared with another
      // document — gram doc-frequency is one map-side-combinable count,
      // never a window; oracle rebuilds the same grams (LATERAL unnest)
      graft.ops.TextOps.crossDocNgramReport(
          t(s, dir, "documents"), "doc_id", "text", n = 3)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_shared"),
          col("shared_frac"))
        .orderBy("doc_id")
    }),

    "q80_text_normalize" -> ((s, dir) => {
      // unicode web-text normalization (TextOps.normalizeText, codegen
      // NfcNormalize): NFD sequences, zero-width chars, and control bytes
      // injected deterministically, then normalized away; DuckDB's own
      // nfc_normalize is the exact oracle (same Unicode standard), the
      // strip classes spelled per-engine (\uXXXX Java / \x{...} RE2)
      val coin = col("doc_id") % 4
      val raw = when(coin === 0, concat(lit("Cafe\u0301 "), col("text")))
        .when(coin === 1, concat(lit("\u200B"), col("text"), lit("\u200C")))
        .when(coin === 2, concat(lit("\u0007"), col("text")))
        .otherwise(col("text"))
      t(s, dir, "documents").select(col("doc_id"), raw.as("__raw"))
        .select(col("doc_id"), col("__raw"),
          graft.ops.TextOps.normalizeText(col("__raw")).as("text_norm"))
        .select(col("doc_id"), col("text_norm"),
          (col("text_norm") =!= col("__raw")).as("changed"))
        .localCheckpoint(false) // barrier: the final sort's range
        // sampling otherwise re-evaluates the whole narrow chain (round 7)
        .orderBy("doc_id")
    }),

    "q79_compact_plan" -> ((s, dir) => {
      // the retroactive-dedup decision layer (Compact.plan, the exact code
      // compactRows runs): synthetic captures with 100 payload classes and
      // scrambled dates — earliest (date, id) per digest keeps its record,
      // every later duplicate becomes a revisit referencing the winner;
      // oracle replays the pick as row_number/first_value over the same
      // total order
      val d = col("doc_id")
      val caps = t(s, dir, "documents").select(
        concat(lit("<urn:uuid:r"), d.cast("string"), lit(">")).as("record_id"),
        concat(lit("sha1:"), upper(md5((d % 100).cast("string")))).as("payload_digest"),
        concat(lit("2023-11-14T22:"), lpad(((d * 13) % 60).cast("string"), 2, "0"),
          lit(":"), lpad((d % 60).cast("string"), 2, "0"), lit("Z")).as("warc_date"),
        concat(lit("http://x/"), d.cast("string")).as("target_uri"))
      graft.jobs.Compact.plan(caps)
        .select(col("record_id"),
          when(col("is_winner"), lit("response")).otherwise(lit("revisit")).as("action"),
          when(col("is_winner"), lit("-")).otherwise(col("winner_id")).as("refers_to"))
        .orderBy("record_id")
    }),

    "q73_wat_serialize" -> ((s, dir) => {
      // the WAT derivative in expression form: templated response fields ->
      // JSON envelope (Wat.envelope: fixed key order, jsonEscape on every
      // free string — title carries quote/backslash/tab to exercise the
      // chain) -> byte-exact `metadata` record, md5+length hash-checked
      val d = col("doc_id").cast("string")
      val env = graft.jobs.Wat.envelope(
        concat(lit("<urn:uuid:src-"), d, lit(">")),
        lit("2023-11-14T22:13:20Z"),
        concat(lit("http://h"), (col("doc_id") % 7).cast("string"), lit(".example/d"), d),
        lit(1000) + col("doc_id"),
        when(col("doc_id") % 10 === 0, lit(404)).otherwise(lit(200)),
        lit("text/html; charset=\"utf-8\""),
        concat(lit("Doc \""), d, lit("\"\t\\ end")),
        array(concat(lit("/a"), d), concat(lit("rel"), d, lit(".html")),
          concat(lit("HTTP://X.Example/"), d)))
      val staged = t(s, dir, "documents").select(col("doc_id"), env.as("__env"))
      val rec = graft.warc.RecordSerializer.metadataRecord(
        concat(lit("<urn:uuid:wat-"), col("doc_id").cast("string"), lit(">")),
        lit("2023-11-14T22:13:20Z"),
        concat(lit("http://h"), (col("doc_id") % 7).cast("string"), lit(".example/d"),
          col("doc_id").cast("string")),
        concat(lit("<urn:uuid:src-"), col("doc_id").cast("string"), lit(">")),
        col("__env"))
      staged.select(col("doc_id"), length(rec).cast("long").as("rec_len"),
        md5(rec).as("rec_md5"))
        .localCheckpoint(false) // barrier: the final sort's range
        // sampling otherwise re-evaluates the whole narrow chain (round 7)
        .orderBy("doc_id")
    }),

    "q71_wet_serialize" -> ((s, dir) => {
      // the WET derivative end-to-end in expression form: the q70 HTML
      // template -> HtmlChain text extraction -> byte-exact `conversion`
      // record (refers-to back-pointer, octet-true Content-Length) —
      // md5 + length hash-checked like q34
      val html = t(s, dir, "documents").select(col("doc_id"),
        concat(
          lit("<html><head><title>Doc "), col("doc_id").cast("string"),
          lit("</title><style>body{color:red}</style><script>var x=1; if(x<2){x=3;}</script></head>"),
          lit("<body><!-- hidden comment --><h1 class=\"t\">Doc "),
          col("doc_id").cast("string"), lit("</h1><p>"), col("text"),
          lit("</p><div>tail &amp; more &lt;b&gt; &quot;q&quot; &#39;x&#39;&nbsp;end</div>"),
          lit("</body></html>")).as("html"))
      val staged = html.select(col("doc_id"),
        TextOps.htmlToText(col("html")).as("wet_text"))
      val rec = graft.warc.RecordSerializer.conversionRecord(
        concat(lit("<urn:uuid:wet-"), col("doc_id").cast("string"), lit(">")),
        lit("2023-11-14T22:13:20Z"),
        concat(lit("http://h"), (col("doc_id") % 7).cast("string"), lit(".example/d"),
          col("doc_id").cast("string")),
        concat(lit("<urn:uuid:src-"), col("doc_id").cast("string"), lit(">")),
        col("wet_text"))
      staged.select(col("doc_id"), length(rec).cast("long").as("rec_len"),
        md5(rec).as("rec_md5"))
        .localCheckpoint(false) // barrier: the final sort's range
        // sampling otherwise re-evaluates the whole narrow chain (round 7)
        .orderBy("doc_id")
    }),

    "q70_html_extract" -> ((s, dir) => {
      // HTML -> text + title over deterministically-templated pages: every
      // doc is wrapped in a full document with style/script blocks, a
      // comment, block tags, and the core entity set — so the extractor is
      // verified on real strip/decode work (the injected-construction
      // discipline), and the chain is single-sourced into the oracle
      val html = t(s, dir, "documents").select(col("doc_id"),
        concat(
          lit("<html><head><title>Doc "), col("doc_id").cast("string"),
          lit("</title><style>body{color:red}</style><script>var x=1; if(x<2){x=3;}</script></head>"),
          lit("<body><!-- hidden comment --><h1 class=\"t\">Doc "),
          col("doc_id").cast("string"), lit("</h1><p>"), col("text"),
          lit("</p><div>tail &amp; more &lt;b&gt; &quot;q&quot; &#39;x&#39;&nbsp;end</div>"),
          lit("</body></html>")).as("html"))
      html.select(col("doc_id"),
        TextOps.htmlTitle(col("html")).as("title"),
        TextOps.htmlToText(col("html")).as("clean"))
        .localCheckpoint(false) // barrier: the final sort's range
        // sampling otherwise re-evaluates the whole narrow chain (round 7)
        .orderBy("doc_id")
    }),

    "q69_dsir_select" -> ((s, dir) => {
      // DSIR importance resampling: two style sub-populations are injected
      // (class A " alpha beta alpha", class B " gamma delta gamma"); the
      // TARGET corpus shares class A's style, so the selection must
      // up-weight class A (enrichment asserted in PipelineOpsSpec — the
      // injected-construction non-vacuity discipline of q60/q65)
      val m = md5(col("doc_id").cast("string"))
      val coin = conv(substring(m, 1, 8), 16, 10).cast("long") % 8
      val styled = t(s, dir, "documents").withColumn("text",
        when(coin === 0, concat(col("text"), lit(" alpha beta alpha")))
          .when(coin === 1, concat(col("text"), lit(" gamma delta gamma")))
          .otherwise(col("text")))
      val tcoin = conv(substring(md5(concat(lit("t:"), col("doc_id").cast("string"))),
        1, 8), 16, 10).cast("long") % 4
      val target = t(s, dir, "documents").filter(tcoin === 0)
        .withColumn("text", concat(col("text"), lit(" alpha beta alpha")))
      TextOps.dsirSelect(styled, "doc_id", "text", target, k = 100, minCount = 5)
        .orderBy("rank")
    }),

    "q67_quantize_int8" -> ((s, dir) => {
      // per-vector symmetric int8 quantization (codes + scale) — the 4x
      // scan-bytes reduction for a 100 TB embedding corpus; every step is
      // deterministic arithmetic, so DuckDB reproduces codes bit-for-bit
      AnnOps.quantizeInt8(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding")), "embedding")
        .select(col("vec_id"), col("qscale"),
          concat_ws(",", col("codes")).as("code_str"))
        .orderBy("vec_id")
    }),

    "q68_quantized_topk" -> ((s, dir) => {
      // asymmetric-distance top-k: int8 corpus codes vs full-precision
      // queries, score = qscale * <codes, qv>. Integer-valued query
      // components (the q27 trick) make the dot exact/order-independent, so
      // the whole ranking is cross-engine-checkable
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5).select(col("vec_id"),
        transform(col("embedding"), x => round(x * 1000, 0).cast("double")).as("qv"))
      AnnOps.quantizedTopK(e, "vec_id", "embedding", q, "vec_id", "qv", k = 10)
        .orderBy("qid", "rank")
    }),

    "q48_dedup_clusters" -> ((s, dir) => {
      // cluster resolution: CHAIN pairs (adjacent ids within an exact-dup
      // group — the multi-hop stress shape; a clique would converge in one
      // step) -> connected components -> (doc, canonical representative)
      val d = t(s, dir, "documents")
        .select(col("doc_id"), md5(substring(col("text"), 1, 30)).as("digest"))
      val w = Window.partitionBy(col("digest")).orderBy(col("doc_id"))
      val pairs = d.withColumn("prev", lag(col("doc_id"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("id_a"), col("doc_id").as("id_b"))
      DedupOps.connectedComponents(pairs)
        .select(col("id").cast("long").as("doc_id"), col("cluster_id").cast("long").as("cluster_id"))
        .orderBy("doc_id")
    })
  )

  // ------------------------------------------------------------- oracle SQL

  private def inList(words: Seq[String]): String = words.map(w => s"'$w'").mkString(", ")

  def oracleSql: Map[String, String] = Map(

    "q01_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(round(l_extendedprice*100,0) AS BIGINT) AS price_cents
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1995-06-01' AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q02_agg_returnflag" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |       CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |       count(*) AS count_order
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q03_join_broadcast" ->
      """SELECT c_mktsegment,
        |       CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |       count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q04_antijoin" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin,

    "q05_semijoin" ->
      """SELECT c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "q06_window_topk" ->
      """SELECT o_custkey, o_orderkey, rk FROM (
        |  SELECT o_custkey, o_orderkey,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) t
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,

    "q07_union_distinct" ->
      """SELECT DISTINCT event_type, user_id FROM (
        |  SELECT event_type, user_id FROM events WHERE value > 180
        |  UNION ALL
        |  SELECT event_type, user_id FROM events WHERE event_type = 'signup') t
        |ORDER BY event_type, user_id""".stripMargin,

    "q08_sort_limit" ->
      """SELECT o_orderkey, CAST(round(o_totalprice*100,0) AS BIGINT) AS price_cents
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    "q09_distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp, count(DISTINCT l_partkey) AS n_part
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q10_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, event_type,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q11_region_revenue" ->
      """SELECT r_name,
        |       CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100,0) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q12_exact_dedup" ->
      """SELECT doc_id, digest FROM (
        |  SELECT doc_id, md5(substring(text,1,30)) AS digest,
        |         row_number() OVER (PARTITION BY md5(substring(text,1,30)) ORDER BY doc_id ASC) AS rn
        |  FROM documents) t
        |WHERE rn = 1 ORDER BY digest""".stripMargin,

    "q13_revisit_counters" ->
      """SELECT warc_type, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS bytes FROM (
        |  SELECT CASE WHEN row_number() OVER (PARTITION BY md5(substring(text,1,30)) ORDER BY doc_id ASC) = 1
        |              THEN 'response' ELSE 'revisit' END AS warc_type, n_chars
        |  FROM documents) t
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q14_dedup_tiers" ->
      """WITH d AS (SELECT doc_id, md5(text) AS digest FROM documents),
        |     l AS (SELECT DISTINCT digest FROM d WHERE doc_id % 10 = 0),
        |     g AS (SELECT DISTINCT digest FROM d WHERE doc_id % 10 = 1),
        |     c AS (SELECT DISTINCT digest FROM d WHERE doc_id % 10 = 2)
        |SELECT d.doc_id,
        |       CASE WHEN l.digest IS NOT NULL THEN 'local'
        |            WHEN g.digest IS NOT NULL THEN 'doppelganger'
        |            WHEN c.digest IS NOT NULL THEN 'cdx'
        |            ELSE 'none' END AS tier
        |FROM d LEFT JOIN l ON d.digest = l.digest
        |       LEFT JOIN g ON d.digest = g.digest
        |       LEFT JOIN c ON d.digest = c.digest
        |ORDER BY d.doc_id""".stripMargin,

    "q15_seen_antijoin" ->
      """SELECT doc_id FROM documents d
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM documents s WHERE s.doc_id % 3 = 0 AND md5(s.text) = md5(d.text))
        |ORDER BY doc_id""".stripMargin,

    "q16_host_budget" ->
      """SELECT host, doc_id, host_seq FROM (
        |  SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) AS host, doc_id,
        |         row_number() OVER (PARTITION BY doc_id % 7 ORDER BY n_chars DESC, doc_id ASC) AS host_seq
        |  FROM documents) t
        |WHERE host_seq <= 5 ORDER BY host, host_seq""".stripMargin,

    "q17_url_canonicalize" ->
      """SELECT doc_id,
        |       'http://host' || CAST(doc_id % 20 AS VARCHAR) || '.example/p' || CAST(doc_id AS VARCHAR) AS url_key
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q18_digest_sha256" ->
      """SELECT doc_id, 'sha256:' || sha256(text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q19_text_stats" ->
      """SELECT doc_id,
        |       CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |       CAST(len(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_chars_nospace
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q20_stopword_langsig" -> {
      def hits(words: Seq[String]) =
        s"len(list_filter(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> len(x) > 0), x -> x IN (${inList(words)})))"
      s"""SELECT lang,
         |       CAST(sum(${hits(TextOps.StopwordsEn)}) AS BIGINT) AS en_hits,
         |       CAST(sum(${hits(TextOps.StopwordsDe)}) AS BIGINT) AS de_hits,
         |       CAST(sum(${hits(TextOps.StopwordsFr)}) AS BIGINT) AS fr_hits,
         |       CAST(sum(${hits(TextOps.StopwordsEs)}) AS BIGINT) AS es_hits
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q21_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(len(toks) - 1),
        |    i -> toks[i+1] || ' ' || toks[i+2])) AS grams
        |  FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
        |        FROM documents) t WHERE len(toks) >= 2),
        |  e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        |  rare AS (SELECT gram FROM e GROUP BY gram HAVING count(*) BETWEEN 2 AND 100),
        |  ce AS (SELECT e.doc_id, e.gram FROM e JOIN rare USING (gram)),
        |  cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |           FROM ce a JOIN ce b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |  j AS (SELECT id_a, id_b, ga.grams AS g_a, gb.grams AS g_b
        |        FROM cand JOIN g ga ON ga.doc_id = id_a JOIN g gb ON gb.doc_id = id_b)
        |SELECT id_a, id_b,
        |       round(CAST(len(list_intersect(g_a, g_b)) AS DOUBLE) /
        |             (len(g_a) + len(g_b) - len(list_intersect(g_a, g_b))), 4) AS jaccard
        |FROM j
        |WHERE CAST(len(list_intersect(g_a, g_b)) AS DOUBLE) /
        |      (len(g_a) + len(g_b) - len(list_intersect(g_a, g_b))) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin,

    "q22_ann_threshold" ->
      """WITH q AS (SELECT vec_id AS qid,
        |                  list_transform(embedding, x -> CAST(round(x*1000) AS DOUBLE)) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |     c AS (SELECT vec_id AS id,
        |                  list_transform(embedding, x -> CAST(round(x*1000) AS DOUBLE)) AS v
        |           FROM embeddings)
        |SELECT qid, id,
        |       round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 3) AS cosine
        |FROM c, q
        |WHERE qid <> id
        |  AND list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) >= 0.25
        |ORDER BY qid, id""".stripMargin,

    "q26_ann_ivf_topk" ->
      // nprobe = nlist makes IVF ≡ brute force by construction (see the
      // Spark side), so the oracle is the exact ranked cosine top-k
      """WITH c AS (SELECT vec_id AS id,
        |                  list_transform(embedding, x -> CAST(round(x*1000) AS DOUBLE)) AS v
        |           FROM embeddings),
        |     q AS (SELECT vec_id AS qid,
        |                  list_transform(embedding, x -> CAST(round(x*1000) AS DOUBLE)) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |     scored AS (
        |       SELECT qid, id,
        |              list_dot_product(v, qv) /
        |              (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS cos
        |       FROM c, q),
        |     ranked AS (
        |       SELECT qid, id, cos,
        |              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |       FROM scored)
        |SELECT qid, id, round(cos, 4) AS cosine, rank
        |FROM ranked WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    "q27_ann_brute_topk" ->
      """WITH c AS (SELECT vec_id AS id,
        |                  list_transform(embedding, x -> CAST(round(x*1000) AS DOUBLE)) AS v
        |           FROM embeddings),
        |     q AS (SELECT vec_id AS qid,
        |                  list_transform(embedding, x -> CAST(round(x*1000) AS DOUBLE)) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |     scored AS (
        |       SELECT qid, id,
        |              list_dot_product(v, qv) /
        |              (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS cos
        |       FROM c, q),
        |     ranked AS (
        |       SELECT qid, id, cos,
        |              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
        |       FROM scored)
        |SELECT qid, id, round(cos, 4) AS cosine, rank
        |FROM ranked WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    "q29_sessionize" ->
      """SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
        |  SELECT user_id,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM (
        |    SELECT user_id, ts, event_id,
        |           CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                  OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
        |                THEN 1 ELSE 0 END AS new_session
        |    FROM events) t) s
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q30_fingerprint_distinct" ->
      """SELECT lang, count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS n_distinct
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q32_langid" -> {
      def hits(words: Seq[String]) =
        s"len(list_filter(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> len(x) > 0), x -> x IN (${inList(words)})))"
      // the Spark fold replaces the best only on STRICTLY greater, so ties
      // go to the earliest language in (en, de, fr, es) — the cascaded >=
      // CASE below encodes exactly that preference order
      s"""WITH s AS (
         |  SELECT doc_id,
         |         ${hits(TextOps.StopwordsEn)} AS en,
         |         ${hits(TextOps.StopwordsDe)} AS de,
         |         ${hits(TextOps.StopwordsFr)} AS fr,
         |         ${hits(TextOps.StopwordsEs)} AS es,
         |         CASE WHEN length(text) = 0 THEN 0.0
         |              ELSE CAST(length(regexp_replace(text, '[^\\x{4E00}-\\x{9FFF}]', '', 'g')) AS DOUBLE) / length(text) END AS cjk
         |  FROM documents)
         |SELECT lang_pred, count(*) AS n FROM (
         |  SELECT CASE WHEN cjk > 0.25 THEN 'zh'
         |              WHEN greatest(en, de, fr, es) = 0 THEN 'unknown'
         |              WHEN en >= de AND en >= fr AND en >= es THEN 'en'
         |              WHEN de >= fr AND de >= es THEN 'de'
         |              WHEN fr >= es THEN 'fr'
         |              ELSE 'es' END AS lang_pred
         |  FROM s) t
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q33_quality_score" -> {
      val hitsEn =
        s"len(list_filter(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> len(x) > 0), x -> x IN (${inList(TextOps.StopwordsEn)})))"
      s"""WITH s AS (
         |  SELECT doc_id,
         |         len(list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)) AS n_tok,
         |         length(regexp_replace(text, '\\s+', '', 'g')) AS nospace,
         |         CASE WHEN length(text) = 0 THEN 0.0
         |              ELSE CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END AS punct,
         |         $hitsEn AS en
         |  FROM documents)
         |SELECT score, count(*) AS n FROM (
         |  SELECT round(
         |      (CASE WHEN n_tok BETWEEN 8 AND 100000 THEN 0.25 ELSE 0.0 END) +
         |      (CASE WHEN punct < 0.2 THEN 0.25 ELSE 0.0 END) +
         |      (CASE WHEN n_tok > 0 AND CAST(en AS DOUBLE) / n_tok > 0.05 THEN 0.25 ELSE 0.0 END) +
         |      (CASE WHEN n_tok > 0 AND CAST(nospace AS DOUBLE) / n_tok BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END),
         |      2) AS score
         |  FROM s) t
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q34_warc_serialize" ->
      """WITH r AS (
        |  SELECT doc_id,
        |         'WARC/1.1' || chr(13)||chr(10) ||
        |         'WARC-Date: 2023-11-14T22:13:20Z' || chr(13)||chr(10) ||
        |         'WARC-Type: resource' || chr(13)||chr(10) ||
        |         'WARC-Record-ID: <urn:uuid:rec-' || doc_id || '>' || chr(13)||chr(10) ||
        |         'Content-Length: ' || strlen(text) || chr(13)||chr(10) ||
        |         'WARC-Target-URI: http://h' || (doc_id % 7) || '.example/d' || doc_id || chr(13)||chr(10) ||
        |         'Content-Type: text/plain' || chr(13)||chr(10) ||
        |         chr(13)||chr(10) || text || chr(13)||chr(10) || chr(13)||chr(10) AS rec
        |  FROM documents)
        |SELECT doc_id, CAST(length(rec) AS BIGINT) AS rec_len, md5(rec) AS rec_md5
        |FROM r ORDER BY doc_id""".stripMargin,

    "q35_target_uri" ->
      """SELECT doc_id,
        |       'http://h' || (doc_id % 7) || '.example' ||
        |       regexp_extract('GET /d' || doc_id || ' HTTP/1.1', '^[A-Z]+ (\S+) HTTP', 1) AS target_uri
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q36_end_of_headers" ->
      """SELECT doc_id,
        |       CAST(strpos('HTTP/1.1 200 OK' || chr(13)||chr(10) || 'Content-Length: ' || n_chars ||
        |                   chr(13)||chr(10)||chr(13)||chr(10) || text,
        |                   chr(13)||chr(10)||chr(13)||chr(10)) + 4 AS BIGINT) AS cut_pos
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q37_cdx_parse" ->
      """WITH c AS (
        |  SELECT doc_id, string_split(
        |    'example)/d' || doc_id || ' 20220320002518 http://h0.example/d' || doc_id ||
        |    ' text/html 200 ' || upper(md5(text)) || ' ' || n_chars, ' ') AS f
        |  FROM documents)
        |SELECT doc_id,
        |       strftime(strptime(f[2], '%Y%m%d%H%M%S'), '%Y-%m-%d %H:%M:%S') AS capture_ts,
        |       f[6] AS cdx_digest,
        |       CAST(f[7] AS BIGINT) AS cdx_size
        |FROM c ORDER BY doc_id""".stripMargin,

    "q38_header_map" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS content_length, lang AS lang_hdr
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q39_filename_serial" ->
      """SELECT doc_id,
        |       'GRAFT-20231114221320000-' || printf('%05d', doc_id % 99999 + 1) ||
        |       '-h' || (doc_id % 7) || '.warc.gz' AS filename
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q40_content_length_sum" ->
      """SELECT lang, CAST(sum(n_chars) AS BIGINT) AS total_bytes, count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q41_doppelganger_json" ->
      """WITH j AS (
        |  SELECT doc_id,
        |         '{"id":"dg-' || doc_id || '","uri":"http://h0.example/d' || doc_id ||
        |         '","date":"20220101000000"}' AS js
        |  FROM documents)
        |SELECT doc_id,
        |       json_extract_string(js, '$.id') AS dg_id,
        |       json_extract_string(js, '$.uri') AS dg_uri,
        |       json_extract_string(js, '$.date') AS dg_date
        |FROM j ORDER BY doc_id""".stripMargin,

    "q42_http_parse" ->
      """SELECT doc_id, 200 AS status,
        |       'text/html; charset=utf-8' AS content_type,
        |       (doc_id % 5 <> 0) AS is_request
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q43_extract_report" ->
      """SELECT CASE WHEN doc_id % 4 = 0 THEN 'image/png'
        |            WHEN doc_id % 4 = 1 THEN 'text/html; charset=utf-8'
        |            ELSE 'text/plain' END AS content_type, count(*) AS n
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q46_truncation_guard" ->
      """SELECT doc_id,
        |       (length(text) > 500) AS truncated,
        |       CASE WHEN length(text) > 500 THEN 'length' ELSE '' END AS warc_truncated,
        |       CAST(least(length(text), 500) AS BIGINT) AS kept_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q47_disposition_filename" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 3 = 0 THEN 'quoted-' || doc_id || '.pdf'
        |            WHEN doc_id % 3 = 1 THEN 'bare-' || doc_id || '.bin'
        |            ELSE 'fallback-' || doc_id || '.html' END AS filename
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q49_bpe_tokens" ->
      // whitespace spelled out, not \s: Java's \s includes \x0B, RE2's does
      // not — the explicit class is the one regex both engines agree on
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text,
        |         '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\f\r]+')) AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q50_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) AS DOUBLE) / 4294967296.0
        |      < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
        |                  WHEN 'fr' THEN 0.1 WHEN 'zh' THEN 0.3 ELSE 0.05 END
        |ORDER BY doc_id""".stripMargin,

    "q51_sequence_pack" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |  c AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        |  FROM s)
        |SELECT doc_id, n_tokens, start_offset,
        |       start_offset // 2048 AS seq_id,
        |       start_offset % 2048 AS seq_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    "q52_decontaminate" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |  g AS (
        |  SELECT doc_id,
        |         CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |              ELSE list_distinct(list_transform(range(len(toks) - 7),
        |                i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3], toks[i+4],
        |                               toks[i+5], toks[i+6], toks[i+7], toks[i+8]))) END AS grams
        |  FROM tok),
        |  e AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 25 = 0),
        |  d AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        |  c AS (SELECT DISTINCT d.doc_id FROM d JOIN e USING (gram))
        |SELECT doc_id, (doc_id IN (SELECT doc_id FROM c)) AS contaminated
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q53_weighted_mix" ->
      """WITH w AS (
        |  SELECT doc_id, lang,
        |         CASE lang WHEN 'en' THEN 2.5 WHEN 'de' THEN 1.0
        |                   WHEN 'zh' THEN 0.0 ELSE 0.25 END AS wt
        |  FROM documents),
        |  c AS (
        |  SELECT doc_id, lang, wt, unnest(range(CAST(ceil(wt) AS BIGINT))) AS copy
        |  FROM w WHERE wt > 0)
        |SELECT doc_id, lang, copy FROM c
        |WHERE copy < floor(wt)
        |   OR CAST(CAST('0x' || substr(md5(doc_id || ':' || copy), 1, 8) AS UBIGINT) AS DOUBLE) / 4294967296.0
        |      < wt - floor(wt)
        |ORDER BY doc_id, copy""".stripMargin,

    "q54_materialize_sequences" ->
      """WITH s AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |  c AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |         CAST(coalesce(sum(len(toks)) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        |  FROM s),
        |  k AS (
        |  SELECT doc_id, toks, n, start_offset,
        |         unnest(range(start_offset // 2048, (start_offset + n - 1) // 2048 + 1)) AS seq_id
        |  FROM c WHERE n > 0),
        |  p AS (
        |  SELECT seq_id, start_offset,
        |         list_slice(toks, CAST(greatest(seq_id*2048 - start_offset, 0) + 1 AS BIGINT),
        |                    CAST(least(n, (seq_id+1)*2048 - start_offset) AS BIGINT)) AS part
        |  FROM k)
        |SELECT seq_id,
        |       CAST(len(flatten(list(part ORDER BY start_offset))) AS BIGINT) AS n_tokens,
        |       array_to_string(flatten(list(part ORDER BY start_offset)), ' ') AS text
        |FROM p GROUP BY seq_id ORDER BY seq_id""".stripMargin,

    "q55_gopher_signals" ->
      """WITH s AS (
        |  SELECT doc_id, CAST(len(text) AS BIGINT) AS text_len,
        |         list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks,
        |         list_filter(string_split_regex(text, '\r?\n'), x -> len(trim(x)) > 0) AS lines
        |  FROM documents),
        |  g AS (
        |  SELECT doc_id, text_len, toks, lines,
        |         CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |              ELSE list_transform(range(len(toks) - 1), i -> toks[i+1] || ' ' || toks[i+2]) END AS grams
        |  FROM s),
        |  m AS (
        |  SELECT doc_id,
        |         CAST(len(toks) AS BIGINT) AS n_words,
        |         CASE WHEN len(lines) = 0 THEN 0.0
        |              ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines) END AS dup_line_frac,
        |         CASE WHEN len(grams) = 0 THEN 0.0
        |              ELSE CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams) END AS dup_2gram_frac,
        |         CASE WHEN len(grams) = 0 OR text_len = 0 THEN 0.0
        |              ELSE CAST(list_max(list_transform(list_distinct(grams),
        |                     x -> len(list_filter(grams, y -> y = x)) * len(x))) AS DOUBLE) / text_len
        |         END AS top_2gram_char_frac,
        |         CASE WHEN len(lines) = 0 THEN 0.0
        |              ELSE CAST(len(list_filter(lines, x -> trim(x) LIKE '%...')) AS DOUBLE) / len(lines) END AS ellipsis_frac,
        |         CASE WHEN len(toks) = 0 THEN 0.0
        |              ELSE CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(toks) END AS alpha_frac,
        |         CASE WHEN len(toks) = 0 THEN 0.0
        |              ELSE CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) END AS mean_word_len
        |  FROM g)
        |SELECT doc_id, n_words,
        |       round(dup_line_frac, 4) AS dup_line_frac,
        |       round(dup_2gram_frac, 4) AS dup_2gram_frac,
        |       round(top_2gram_char_frac, 4) AS top_2gram_char_frac,
        |       round(ellipsis_frac, 4) AS ellipsis_frac,
        |       round(alpha_frac, 4) AS alpha_frac,
        |       round(mean_word_len, 4) AS mean_word_len,
        |       (n_words BETWEEN 50 AND 100000
        |        AND mean_word_len BETWEEN 3.0 AND 10.0
        |        AND alpha_frac >= 0.8
        |        AND ellipsis_frac < 0.3
        |        AND dup_line_frac < 0.3
        |        AND dup_2gram_frac < 0.4) AS gopher_pass
        |FROM m ORDER BY doc_id""".stripMargin,

    "q56_simhash_portable" ->
      // bit-for-bit reconstruction of the simhash pipeline: per-token 64-bit
      // md5 hashes -> per-bit +-1 vote sums -> sign-assembled 64-bit sketch
      // (HUGEINT shift, UBIGINT value) -> 16-bit band self-join -> distinct
      // pairs -> popcount(xor) Hamming gate
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS t
        |  FROM documents),
        |  h AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, 16) AS UBIGINT) AS hv FROM tok),
        |  votes AS (
        |  SELECT doc_id, b, sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h, (SELECT unnest(range(64)) AS b) bs GROUP BY doc_id, b),
        |  sh AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS HUGEINT) << CAST(b AS INT) ELSE 0 END) AS UBIGINT) AS s
        |  FROM votes GROUP BY doc_id),
        |  band AS (
        |  SELECT doc_id, s, b4, (s >> CAST(b4 * 16 AS INT)) & 65535 AS bv
        |  FROM sh, (SELECT unnest(range(4)) AS b4) t4),
        |  cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        |  FROM band a JOIN band c ON a.b4 = c.b4 AND a.bv = c.bv AND a.doc_id < c.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(sa.s, sb.s)) AS INT) AS hamming
        |FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
        |WHERE bit_count(xor(sa.s, sb.s)) <= 16
        |ORDER BY id_a, id_b""".stripMargin,

    "q58_srp_portable" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(round(x*1000) AS DOUBLE)) AS v
        |  FROM embeddings),
        |  sig AS (
        |  SELECT vec_id, v,
        |         sqrt(list_dot_product(v, v)) AS n,
        |         array_to_string(list_transform(range(8), p ->
        |           CASE WHEN list_sum(list_transform(range(len(v)), i ->
        |             v[CAST(i+1 AS INT)] *
        |             (CAST(CAST('0x' || substr(md5('hp:' || p || ':' || i), 1, 8) AS UBIGINT) AS DOUBLE)
        |              / 4294967296.0 * 2 - 1)
        |           )) >= 0 THEN '1' ELSE '0' END), '') AS bucket
        |  FROM e)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_dot_product(a.v, b.v) / (a.n * b.n), 4) AS cosine
        |FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) / (a.n * b.n) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    "q57_minhash_portable" -> {
      // the 16 XOR salts are interpolated from DedupOps.slotSalt so the SQL
      // and the Spark plan can never silently diverge on the constants
      val saltMins = (0 until 16).map(i =>
        s"list_min(list_transform(hs, h -> xor(h, CAST(${graft.ops.DedupOps.slotSalt(i)} AS BIGINT))))")
        .mkString(",\n           ")
      s"""WITH d AS (
         |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
         |  FROM documents),
         |  sh AS (
         |  SELECT doc_id, CASE WHEN len(norm) < 5 THEN [norm]
         |         ELSE list_distinct(list_transform(range(len(norm) - 4), i -> substr(norm, CAST(i+1 AS INT), 5))) END AS shingles
         |  FROM d),
         |  hsh AS (
         |  SELECT doc_id, shingles,
         |         list_transform(shingles, s ->
         |           CAST(CAST(CAST('0x' || substr(md5(s), 1, 16) AS UBIGINT) AS HUGEINT)
         |             - (CAST(CAST('0x' || substr(md5(s), 1, 16) AS UBIGINT) >> 63 AS HUGEINT) * 18446744073709551616) AS BIGINT)) AS hs
         |  FROM sh),
         |  sig AS (
         |  SELECT doc_id, hs,
         |         [$saltMins] AS sg
         |  FROM hsh),
         |  band AS (
         |  SELECT doc_id, b, array_to_string(list_slice(sg, CAST(b*4+1 AS INT), CAST(b*4+4 AS INT)), ',') AS key
         |  FROM sig, (SELECT unnest(range(4)) AS b) bs),
         |  cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
         |  FROM band a JOIN band c ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id),
         |  sets AS (SELECT doc_id, list_sort(list_distinct(hs)) AS ss FROM hsh),
         |  j AS (SELECT id_a, id_b, sa.ss AS s_a, sb.ss AS s_b
         |        FROM cand JOIN sets sa ON sa.doc_id = id_a JOIN sets sb ON sb.doc_id = id_b)
         |SELECT id_a, id_b,
         |       round(CAST(len(list_intersect(s_a, s_b)) AS DOUBLE) /
         |             (len(s_a) + len(s_b) - len(list_intersect(s_a, s_b))), 4) AS jaccard
         |FROM j
         |WHERE CAST(len(list_intersect(s_a, s_b)) AS DOUBLE) /
         |      (len(s_a) + len(s_b) - len(list_intersect(s_a, s_b))) >= 0.4
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q59_chunk_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |  nz AS (SELECT doc_id, toks, CAST(ceil(len(toks)/10.0) AS BIGINT) AS n_chunks
        |         FROM tok WHERE len(toks) > 0),
        |  ch AS (
        |  SELECT doc_id, n_chunks,
        |         unnest(list_transform(range(n_chunks),
        |           i -> {'idx': i, 'chunk': array_to_string(toks[CAST(i*10+1 AS BIGINT):CAST((i+1)*10 AS BIGINT)], ' ')})) AS u
        |  FROM nz),
        |  ch2 AS (SELECT doc_id, n_chunks, u.idx AS idx, u.chunk AS chunk FROM ch),
        |  k AS (SELECT *, row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) = 1 AS keep FROM ch2),
        |  agg AS (
        |  SELECT doc_id,
        |         coalesce(string_agg(CASE WHEN keep THEN chunk END, ' ' ORDER BY idx), '') AS text2,
        |         max(n_chunks) AS n_chunks, sum(CASE WHEN keep THEN 0 ELSE 1 END) AS n_dropped
        |  FROM k GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.text2, '') AS text,
        |       CAST(coalesce(a.n_chunks, 0) AS BIGINT) AS n_chunks,
        |       CAST(coalesce(a.n_dropped, 0) AS BIGINT) AS n_dropped
        |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q60_pii_scrub" -> {
      // patterns interpolated from TextOps' single-sourced PiiChain so
      // Spark and the oracle can never drift — the staged CTEs s1..s5 are
      // GENERATED from the same (pattern, placeholder) list piiScrub folds
      // over, each category counting matches in the previous stage's text
      // exactly like piiCounts; the injected-PII construction is mirrored
      // verbatim
      val chain = graft.ops.TextOps.PiiChain
      val stages = chain.zipWithIndex.map { case ((pat, rep), i) =>
        val carries = (1 to i).map(j => s"c$j, ").mkString
        s"s${i + 1} AS (SELECT doc_id, $carries" +
          s"CAST(len(regexp_extract_all(t, '$pat')) AS BIGINT) AS c${i + 1}, " +
          s"regexp_replace(t, '$pat', '$rep', 'g') AS t FROM s$i)"
      }.mkString(",\n  ")
      s"""WITH s0 AS (
         |  SELECT doc_id,
         |         text || ' contact user' || doc_id || '@mail' || (doc_id % 7) || '.example.com'
         |              || ' or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |              || ' call (555) ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
         |              || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |              || ' via 2001:db8:' || (doc_id % 9999)
         |              || '::' || ((doc_id % 99) + 1)
         |              || ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id % 254) + 1) AS t
         |  FROM documents),
         |  $stages
         |SELECT doc_id, t AS clean,
         |       c1 AS n_email, c2 AS n_phone, c3 AS n_phone_nat,
         |       c4 AS n_ipv6, c5 AS n_ip
         |FROM s${chain.length} ORDER BY doc_id""".stripMargin
    },

    "q61_epoch_shuffle" ->
      """SELECT doc_id,
        |       row_number() OVER (ORDER BY md5('7:' || doc_id), doc_id) - 1 AS epoch_rank
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q62_split_assign" -> {
      // interval bounds interpolated from the op itself: float-sum drift
      // cannot diverge the engines
      val b = graft.ops.PipelineOps.splitBounds(
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      s"""SELECT doc_id,
         |       CASE WHEN u < ${b(0)} THEN 'train'
         |            WHEN u < ${b(1)} THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (SELECT doc_id,
         |        CAST(CAST('0x' || substr(md5('3:' || doc_id), 1, 8) AS UBIGINT) AS DOUBLE) / 4294967296.0 AS u
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin
    },

    // one merge per recursive iteration == the greedy batch BPE (proof in
    // graft.functions.Bpe's doc); ranks/ids are CASE arms generated from
    // the SAME frozen model object the Spark side encodes with
    "q63_bpe_encode" -> graft.ops.BpeOps.bpeOracleSql(graft.functions.BpeFixture.model),

    "q64_pack_bpe" ->
      graft.ops.BpeOps.bpePackOracleSql(graft.functions.BpeFixture.model, budget = 512),

    // mirrors TextOps.ngramLmPerplexity step for step; per-pair ln p is
    // quantized to micro-nat LONGs before the per-doc sum so both engines
    // sum identical integers in any order (double sums are order-sensitive)
    "q65_lm_perplexity" ->
      """WITH base AS (
        |  SELECT doc_id,
        |         CASE WHEN (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8) = 0
        |              THEN 'q' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) || ' ' || text
        |              WHEN (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8) = 1
        |              THEN text || ' q' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
        |              ELSE text END AS text
        |  FROM documents),
        |toks AS (SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> len(x) > 0) AS t FROM base),
        |str AS (SELECT unnest(t) AS w FROM toks),
        |uni AS (SELECT w, count(*) AS cnt FROM str GROUP BY w),
        |nv AS (SELECT count(*) AS v FROM uni WHERE cnt >= 5),
        |umap AS (SELECT w, CASE WHEN cnt >= 5 THEN w ELSE '<unk>' END AS u FROM uni),
        |ctx AS (SELECT u, sum(cnt) AS c1 FROM umap JOIN uni USING (w) GROUP BY u),
        |pairs AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)),
        |mapped AS (
        |  SELECT p.doc_id, m1.u AS u1, m2.u AS u2
        |  FROM pairs p JOIN umap m1 ON p.w1 = m1.w JOIN umap m2 ON p.w2 = m2.w),
        |model AS (SELECT u1, u2, count(*) AS c2 FROM mapped GROUP BY u1, u2),
        |scored AS (
        |  SELECT mp.doc_id,
        |         CAST(round((ln(model.c2 + 1) - ln(ctx.c1 + nv.v + 1)) * 1000000) AS BIGINT) AS q
        |  FROM mapped mp JOIN model ON mp.u1 = model.u1 AND mp.u2 = model.u2
        |                 JOIN ctx ON mp.u1 = ctx.u CROSS JOIN nv)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       round(sum(q) / 1000000.0 / count(*), 3) AS avg_logp,
        |       round(exp(-(sum(q) / 1000000.0) / count(*)), 2) AS ppl
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // mirrors TextOps.dropBoilerplateLines: docLines split (\r?\n, blank
    // lines discarded), distinct-doc threshold, order-preserving rebuild
    "q66_boilerplate_lines" ->
      """WITH base AS (
        |  SELECT doc_id,
        |         CASE WHEN (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8) = 0
        |              THEN text || chr(10) || 'subscribe to our newsletter today'
        |              WHEN (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8) = 1
        |              THEN text || chr(10) || 'subscribe to our newsletter today' || chr(10) || 'all rights reserved worldwide'
        |              WHEN (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8) = 2
        |              THEN 'this site uses cookies' || chr(10) || text
        |              ELSE text END AS text
        |  FROM documents),
        |l0 AS (SELECT doc_id, list_filter(string_split_regex(text, '\r?\n'), x -> len(trim(x)) > 0) AS ls FROM base),
        |lines AS (SELECT doc_id, ls[i] AS line, i
        |          FROM l0, LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i)),
        |hot AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS d FROM lines GROUP BY line) WHERE d >= 50),
        |kept AS (SELECT * FROM lines WHERE line NOT IN (SELECT line FROM hot)),
        |reb AS (SELECT doc_id, count(*) AS n_kept, string_agg(line, chr(10) ORDER BY i) AS clean
        |        FROM kept GROUP BY doc_id)
        |SELECT l0.doc_id, coalesce(reb.clean, '') AS clean,
        |       coalesce(reb.n_kept, 0) AS n_kept,
        |       len(l0.ls) - coalesce(reb.n_kept, 0) AS n_dropped
        |FROM l0 LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q72_outlinks" -> {
      // extraction + scheme filtering are REPLAYED with the single-sourced
      // patterns (the oracle runs the identical RE2 regexes); resolution +
      // canonicalization expected values are constructed per battery
      // category (q17's precedent — DuckDB has no URL functions; RFC 3986
      // resolution itself is independently golden-tested against the §5.4
      // spec vectors in UrlResolveSpec)
      def esc(s: String) = s.replace("'", "''")
      val attrPat = esc(graft.ops.TextOps.LinkAttrPattern)
      val nonFetch = esc(graft.ops.TextOps.NonFetchableLinkPattern)
      s"""WITH p AS (
         |  SELECT doc_id,
         |         'http://h' || (doc_id % 7) || '.example/d/' || doc_id || '/index.html' AS via,
         |         'http://h' || (doc_id % 7) || '.example' AS origin,
         |         'http://h' || (doc_id % 7) || '.example/d/' || doc_id || '/' AS dir,
         |         '<html><body><a href="a' || doc_id || '.html">1</a><a href=''../up/x' || doc_id
         |           || '''>2</a><a href="/abs/p' || doc_id
         |           || '">3</a><script src="//cdn' || (doc_id % 3)
         |           || '.example/lib.js"></script><a href="?v=' || doc_id
         |           || '">5</a><a href="#sec">6</a><a href="HTTP://EXT.Example:80/Q' || doc_id
         |           || '">7</a><a href="mailto:u' || doc_id
         |           || '@x.example">8</a><a href="javascript:void(0)">9</a><a href="a' || doc_id
         |           || '.html">dup</a><img src=''img' || doc_id || '.png''></body></html>' AS html
         |  FROM documents),
         |refs AS (
         |  SELECT doc_id, via, origin, dir,
         |         unnest(list_filter(regexp_extract_all(html, '$attrPat', 1),
         |                            r -> len(r) > 0 AND NOT regexp_matches(r, '$nonFetch'))) AS ref
         |  FROM p)
         |SELECT DISTINCT via,
         |       CASE
         |         WHEN starts_with(ref, 'HTTP://') THEN 'http://ext.example/Q' || doc_id
         |         WHEN starts_with(ref, '//')      THEN 'http:' || ref
         |         WHEN starts_with(ref, '/')       THEN origin || ref
         |         WHEN starts_with(ref, '../')     THEN origin || '/d/up/x' || doc_id
         |         WHEN starts_with(ref, '?')       THEN via || ref
         |         WHEN ref = '#sec'                THEN via
         |         ELSE dir || ref
         |       END AS url,
         |       CAST(1 AS BIGINT) AS depth
         |FROM refs ORDER BY via, url""".stripMargin
    },

    "q74_cdx_line" -> {
      // expected SURT key constructed: lowercase host reversed comma-joined,
      // :80 elided / :8080 kept, /A<d>/../p<d> collapses to /p<d>
      """WITH f AS (
        |  SELECT doc_id,
        |         'example,host' || (doc_id % 20) || ',www'
        |           || CASE WHEN doc_id % 2 = 0 THEN '' ELSE ':8080' END
        |           || ')/p' || doc_id || '?x=' || doc_id AS urlkey,
        |         'HTTP://WWW.Host' || (doc_id % 20) || '.EXAMPLE'
        |           || CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':8080' END
        |           || '/A' || doc_id || '/../p' || doc_id || '?x=' || doc_id AS original,
        |         CASE WHEN doc_id % 10 = 0 THEN '404' ELSE '200' END AS statuscode,
        |         'sha1:' || upper(md5(CAST(doc_id AS VARCHAR))) AS digest,
        |         CAST(1000 + doc_id AS VARCHAR) AS length,
        |         CAST(doc_id * 2048 AS VARCHAR) AS "offset",
        |         'GRAFT-' || lpad(CAST(doc_id AS VARCHAR), 5, '0') || '.warc.gz' AS filename
        |  FROM documents)
        |SELECT doc_id, urlkey,
        |       urlkey || ' 20231114221320 ' || original || ' text/html ' || statuscode
        |         || ' ' || digest || ' - - ' || length || ' ' || "offset" || ' ' || filename AS cdx_line
        |FROM f ORDER BY doc_id""".stripMargin
    },

    "q86_degree_report" -> {
      // same edge construction; reciprocity via EXISTS of the reversed edge
      """WITH e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT doc_id % 41 AS src, (doc_id * 7 + 3) % 41 AS dst FROM documents
        |    UNION ALL
        |    SELECT doc_id % 41, (doc_id * 13 + 5) % 41 FROM documents)),
        |nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
        |o AS (SELECT src AS node, count(*) AS c FROM e GROUP BY src),
        |i AS (SELECT dst AS node, count(*) AS c FROM e GROUP BY dst),
        |r AS (SELECT e.src AS node, count(*) AS c FROM e
        |      WHERE EXISTS (SELECT 1 FROM e e2 WHERE e2.src = e.dst AND e2.dst = e.src)
        |      GROUP BY e.src)
        |SELECT n.node,
        |       CAST(coalesce(o.c, 0) AS BIGINT) AS out_deg,
        |       CAST(coalesce(i.c, 0) AS BIGINT) AS in_deg,
        |       CAST(coalesce(r.c, 0) AS BIGINT) AS reciprocal
        |FROM nodes n LEFT JOIN o USING (node) LEFT JOIN i USING (node)
        |             LEFT JOIN r USING (node)
        |ORDER BY n.node""".stripMargin
    },

    "q85_exact_substring" -> {
      // same shingle keys (md5 of the space-joined 8-slice; DuckDB list
      // slicing is INCLUSIVE: t[i:i+7] = 8 elements), same (doc_id, pos)
      // first-occurrence order, k-cover removal replayed via NOT EXISTS
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, i - 1 AS p, md5(array_to_string(t[i:i+7], ' ')) AS h
        |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 7)) AS i)
        |       WHERE len(t) >= 8),
        |m AS (SELECT doc_id, p,
        |             row_number() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn,
        |             count(*) OVER (PARTITION BY h) AS cnt
        |      FROM sh),
        |dups AS (SELECT doc_id, p FROM m WHERE cnt >= 2 AND rn > 1),
        |pos AS (SELECT doc_id, i - 1 AS i, t[i] AS tok
        |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i)),
        |keptpos AS (
        |  SELECT pos.doc_id, pos.i, pos.tok FROM pos
        |  WHERE NOT EXISTS (SELECT 1 FROM dups d WHERE d.doc_id = pos.doc_id
        |                    AND pos.i BETWEEN d.p AND d.p + 7)),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text,
        |               count(*) AS n_kept
        |        FROM keptpos GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(a.text, '') AS text,
        |       CAST(len(t.t) - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
        |FROM toks t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin
    },

    "q84_sitemap_extract" -> {
      // same pattern + ordered replace chain (&amp; LAST)
      """WITH x AS (
        |  SELECT doc_id,
        |    '<?xml version="1.0"?><urlset><url><loc> http://s' || doc_id ||
        |    '.example/p?a=1&amp;b=2 </loc></url><url><loc>http://s' || doc_id ||
        |    '.example/q</loc></url><lastmod>2024-01-01</lastmod></urlset>' AS xml
        |  FROM documents),
        |u AS (SELECT doc_id,
        |        unnest(regexp_extract_all(xml, '(?is)<loc>\s*(.*?)\s*</loc>', 1)) AS raw
        |      FROM x)
        |SELECT doc_id, replace(replace(replace(replace(replace(raw,
        |  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''), '&amp;', '&') AS url
        |FROM u ORDER BY doc_id, url""".stripMargin
    },

    "q83_recrawl_schedule" -> {
      // same aggregation + floored-div clamp arithmetic
      """WITH h AS (
        |  SELECT 'k' || (doc_id % 40) AS urlkey,
        |         1700000000 + doc_id * 37 AS ts,
        |         'd' || (doc_id % 40) || '_' ||
        |           CAST(floor(floor(doc_id / 40) / (doc_id % 40 % 4 + 1)) AS BIGINT) AS digest
        |  FROM documents),
        |a AS (SELECT urlkey, count(*) AS n_caps, count(DISTINCT digest) AS n_versions,
        |             min(ts) AS first_ts, max(ts) AS last_ts
        |      FROM h GROUP BY urlkey),
        |c AS (SELECT *, greatest(3600, least(2592000,
        |        CAST(floor((last_ts - first_ts) / greatest(n_versions - 1, 1)) AS BIGINT)))
        |        AS interval_s FROM a)
        |SELECT urlkey, n_caps, n_versions, first_ts, last_ts, interval_s,
        |       last_ts + interval_s AS next_due
        |FROM c ORDER BY urlkey""".stripMargin
    },

    "q82_bm25" -> {
      // identical arithmetic order: ((N−df+0.5)/(df+0.5)+1), f·2.2/(f +
      // 1.2·(0.25 + 0.75·dl/avgdl)), quantized per (doc, term)
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |d AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, t FROM toks),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM d),
        |tf AS (SELECT doc_id, dl, w AS term, CAST(count(*) AS DOUBLE) AS f
        |       FROM (SELECT doc_id, dl, unnest(t) AS w FROM d)
        |       WHERE w IN ('join', 'vector', 'scan') GROUP BY doc_id, dl, w),
        |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
        |per AS (SELECT tf.doc_id,
        |          CAST(round(ln((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) *
        |            (tf.f * 2.2 / (tf.f + 1.2 * (1.0 - 0.75 + 0.75 * CAST(tf.dl AS DOUBLE) / stats.avgdl)))
        |            * 1000000) AS BIGINT) AS m
        |        FROM tf JOIN dfq USING (term) CROSS JOIN stats)
        |SELECT d.doc_id, CAST(coalesce(s.sm, 0) AS BIGINT) AS score_micro
        |FROM d LEFT JOIN (SELECT doc_id, sum(m) AS sm FROM per GROUP BY doc_id) s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin
    },

    "q81_crossdoc_ngrams" -> {
      // same distinct-gram construction: full 3-grams for len>=3, the whole
      // token sequence as ONE gram below that (contaminationFlags rule)
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |g3 AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)
        |       WHERE len(t) >= 3),
        |gshort AS (SELECT doc_id, array_to_string(t, ' ') AS g FROM toks WHERE len(t) < 3),
        |grams AS (SELECT DISTINCT doc_id, g FROM (SELECT * FROM g3 UNION ALL SELECT * FROM gshort)),
        |dfreq AS (SELECT g, count(*) AS df FROM grams GROUP BY g)
        |SELECT doc_id, count(*) AS n_grams,
        |       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |       round(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS shared_frac
        |FROM grams JOIN dfreq USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "q80_text_normalize" -> {
      // same injection, DuckDB's nfc_normalize + RE2-spelled strip classes
      """WITH base AS (
        |  SELECT doc_id, CASE doc_id % 4
        |    WHEN 0 THEN 'Cafe' || chr(769) || ' ' || text
        |    WHEN 1 THEN chr(8203) || text || chr(8204)
        |    WHEN 2 THEN chr(7) || text
        |    ELSE text END AS raw
        |  FROM documents),
        |n AS (SELECT doc_id, raw,
        |  nfc_normalize(regexp_replace(regexp_replace(raw,
        |    '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g'),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]', '', 'g')) AS text_norm
        |  FROM base)
        |SELECT doc_id, text_norm, text_norm <> raw AS changed
        |FROM n ORDER BY doc_id""".stripMargin
    },

    "q79_compact_plan" -> {
      // earliest-wins per digest as a ranking window; same (date, id) order
      """WITH caps AS (
        |  SELECT '<urn:uuid:r' || doc_id || '>' AS record_id,
        |         'sha1:' || upper(md5(CAST(doc_id % 100 AS VARCHAR))) AS digest,
        |         '2023-11-14T22:' || lpad(CAST((doc_id * 13) % 60 AS VARCHAR), 2, '0')
        |           || ':' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || 'Z' AS warc_date
        |  FROM documents),
        |r AS (SELECT record_id,
        |             row_number() OVER (PARTITION BY digest ORDER BY warc_date, record_id) AS rn,
        |             first_value(record_id) OVER (PARTITION BY digest ORDER BY warc_date, record_id) AS w
        |      FROM caps)
        |SELECT record_id,
        |       CASE WHEN rn = 1 THEN 'response' ELSE 'revisit' END AS action,
        |       CASE WHEN rn = 1 THEN '-' ELSE w END AS refers_to
        |FROM r ORDER BY record_id""".stripMargin
    },

    "q78_quality_classifier" -> {
      // the whole micro-quantized GD loop unrolled: epoch 1 from the zero
      // model (s=0, p=0.5), epoch 2 through exp/sigmoid, then scoring —
      // hashed buckets via the portable md5 hash (% 256 = low bits, so the
      // unsigned DuckDB mod equals Spark's signed pmod)
      """WITH docs AS (
        |  SELECT doc_id AS id,
        |         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y,
        |         CASE WHEN doc_id % 3 = 0 THEN 'xgood xgood ' || text ELSE text END AS text
        |  FROM documents),
        |toks AS (SELECT id, y, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS t FROM docs),
        |tok AS (SELECT id, y, len(t) AS n, unnest(t) AS w FROM toks WHERE len(t) > 0),
        |bf AS (SELECT id, CAST(CAST('0x' || substr(md5(w), 1, 16) AS UBIGINT) % 256 AS BIGINT) AS bucket,
        |              count(*) AS c, any_value(n) AS n
        |       FROM tok GROUP BY id, bucket),
        |feats AS (SELECT id, bucket, CAST(c AS DOUBLE) / n AS x FROM bf
        |          UNION ALL
        |          SELECT DISTINCT id, CAST(-1 AS BIGINT), CAST(1.0 AS DOUBLE) FROM tok),
        |lab AS (SELECT DISTINCT id, y FROM tok),
        |nn AS (SELECT count(*) AS cnt FROM lab),
        |r1 AS (SELECT id, CAST(round((0.5 - y) * 1000000) AS BIGINT) AS r FROM lab),
        |g1 AS (SELECT f.bucket, CAST(round(sum(f.x * r1.r) / (SELECT cnt FROM nn)) AS BIGINT) AS gm
        |       FROM feats f JOIN r1 USING (id) GROUP BY f.bucket),
        |w1 AS (SELECT bucket, -CAST(round(0.5 * gm) AS BIGINT) AS wm FROM g1),
        |s2 AS (SELECT f.id, sum(f.x * coalesce(w1.wm, 0)) / 1000000.0 AS s
        |       FROM feats f LEFT JOIN w1 USING (bucket) GROUP BY f.id),
        |r2 AS (SELECT l.id, CAST(round((1.0/(1.0 + exp(-s2.s)) - l.y) * 1000000) AS BIGINT) AS r
        |       FROM lab l JOIN s2 USING (id)),
        |g2 AS (SELECT f.bucket, CAST(round(sum(f.x * r2.r) / (SELECT cnt FROM nn)) AS BIGINT) AS gm
        |       FROM feats f JOIN r2 USING (id) GROUP BY f.bucket),
        |w2 AS (SELECT coalesce(w1.bucket, g2.bucket) AS bucket,
        |              coalesce(w1.wm, 0) - CAST(round(0.5 * coalesce(g2.gm, 0)) AS BIGINT) AS wm
        |       FROM w1 FULL OUTER JOIN g2 ON w1.bucket = g2.bucket),
        |sc AS (SELECT f.id, 1.0/(1.0 + exp(-(sum(f.x * coalesce(w2.wm, 0)) / 1000000.0))) AS p
        |       FROM feats f LEFT JOIN w2 USING (bucket) GROUP BY f.id)
        |SELECT id AS doc_id, round(p, 5) AS score FROM sc ORDER BY id""".stripMargin
    },

    "q77_domain_cap" -> {
      // the cap's row_number twin over the identical md5('graft|'||id) coin
      """SELECT doc_id, domain FROM (
        |  SELECT doc_id, doc_id % 23 AS domain,
        |         row_number() OVER (PARTITION BY doc_id % 23
        |           ORDER BY md5('graft|' || doc_id), doc_id) AS rn
        |  FROM documents) WHERE rn <= 5 ORDER BY doc_id""".stripMargin
    },

    "q76_pagerank" -> {
      // 4 unrolled power iterations, same simplified formulation (dangling
      // mass dropped, self-loops kept, parallel edges collapsed by DISTINCT)
      """WITH e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT doc_id % 41 AS src, (doc_id * 7 + 3) % 41 AS dst FROM documents
        |    UNION ALL
        |    SELECT doc_id % 41, (doc_id * 13 + 5) % 41 FROM documents)),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
        |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
        |r1 AS (SELECT n.node, CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) * coalesce(i.s, 0) AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, sum(r.rank / deg.deg) AS s
        |         FROM e JOIN deg USING (src) JOIN r0 r ON r.node = e.src
        |         GROUP BY e.dst) i ON n.node = i.node),
        |r2 AS (SELECT n.node, CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) * coalesce(i.s, 0) AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, sum(r.rank / deg.deg) AS s
        |         FROM e JOIN deg USING (src) JOIN r1 r ON r.node = e.src
        |         GROUP BY e.dst) i ON n.node = i.node),
        |r3 AS (SELECT n.node, CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) * coalesce(i.s, 0) AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, sum(r.rank / deg.deg) AS s
        |         FROM e JOIN deg USING (src) JOIN r2 r ON r.node = e.src
        |         GROUP BY e.dst) i ON n.node = i.node),
        |r4 AS (SELECT n.node, CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) * coalesce(i.s, 0) AS rank
        |       FROM nodes n LEFT JOIN (
        |         SELECT e.dst AS node, sum(r.rank / deg.deg) AS s
        |         FROM e JOIN deg USING (src) JOIN r3 r ON r.node = e.src
        |         GROUP BY e.dst) i ON n.node = i.node)
        |SELECT node, round(rank, 6) AS rank FROM r4 ORDER BY node""".stripMargin
    },

    "q75_cdx_nearest" -> {
      // the earlier-wins nearest pick as row_number(diff, ts); capture and
      // target construction mirrored field-for-field
      """WITH caps AS (
        |  SELECT doc_id % 37 AS grp,
        |         'example,h' || (doc_id % 37) || ')/p' AS urlkey,
        |         20200101000000 + doc_id * 7 AS ts,
        |         'http://h' || (doc_id % 37) || '.example/p?v=' || doc_id AS original,
        |         CASE WHEN doc_id % 9 = 0 THEN '404' ELSE '200' END AS statuscode,
        |         'sha1:' || upper(md5(CAST(doc_id AS VARCHAR))) AS digest,
        |         CAST(500 + doc_id AS VARCHAR) AS length,
        |         CAST(doc_id * 1024 AS VARCHAR) AS "offset",
        |         'GRAFT-' || lpad(CAST(doc_id % 37 AS VARCHAR), 5, '0') || '.warc.gz' AS filename
        |  FROM documents),
        |ranked AS (
        |  SELECT *, 20200101000000 + grp * 123 + 50 AS target_ts,
        |         row_number() OVER (PARTITION BY grp
        |           ORDER BY abs(ts - (20200101000000 + grp * 123 + 50)), ts) AS rn
        |  FROM caps)
        |SELECT urlkey, target_ts, ts AS capture_ts, original,
        |       'text/html' AS mimetype, statuscode, digest,
        |       length, "offset", filename
        |FROM ranked WHERE rn = 1 ORDER BY urlkey""".stripMargin
    },

    "q73_wat_serialize" -> {
      // the jsonEscape fold is GENERATED from TextOps.JsonEscapeChain
      // (literal replace(), portable by construction); envelope + record
      // concatenation replayed byte-for-byte
      def sqlLit(s: String): String =
        if (s == "\n") "chr(10)" else if (s == "\r") "chr(13)"
        else if (s == "\t") "chr(9)"
        else "'" + s.replace("'", "''") + "'"
      def esc(expr: String): String =
        graft.ops.TextOps.JsonEscapeChain.foldLeft(expr) {
          case (acc, (from, to)) => s"replace($acc, ${sqlLit(from)}, ${sqlLit(to)})"
        }
      val linkItem = esc("r")
      s"""WITH f AS (
         |  SELECT doc_id,
         |         '<urn:uuid:src-' || doc_id || '>' AS rid,
         |         'http://h' || (doc_id % 7) || '.example/d' || doc_id AS uri,
         |         CAST(1000 + doc_id AS VARCHAR) AS clen,
         |         CASE WHEN doc_id % 10 = 0 THEN '404' ELSE '200' END AS status,
         |         'text/html; charset="utf-8"' AS ctype,
         |         'Doc "' || doc_id || '"' || chr(9) || '${"\\"} end' AS title,
         |         ['/a' || doc_id, 'rel' || doc_id || '.html',
         |          'HTTP://X.Example/' || doc_id] AS links
         |  FROM documents),
         |e AS (
         |  SELECT doc_id,
         |         '{"Envelope":{"Format":"WARC","WARC-Header-Metadata":{"WARC-Record-ID":"'
         |           || ${esc("rid")} || '","WARC-Date":"2023-11-14T22:13:20Z","WARC-Type":"response","WARC-Target-URI":"'
         |           || ${esc("uri")} || '","Content-Length":' || clen
         |           || '},"Payload-Metadata":{"HTTP-Response-Metadata":{"Response-Message":{"Status":' || status
         |           || '},"Headers":{"Content-Type":"' || ${esc("ctype")}
         |           || '"},"HTML-Metadata":{"Head":{"Title":"' || ${esc("title")}
         |           || '"},"Links":[' || array_to_string(list_transform(links, r -> '{"url":"' || $linkItem || '"}'), ',')
         |           || ']}}}}}' AS env,
         |         rid, uri
         |  FROM f),
         |r AS (
         |  SELECT doc_id,
         |         'WARC/1.1' || chr(13)||chr(10) ||
         |         'WARC-Date: 2023-11-14T22:13:20Z' || chr(13)||chr(10) ||
         |         'WARC-Type: metadata' || chr(13)||chr(10) ||
         |         'WARC-Record-ID: <urn:uuid:wat-' || doc_id || '>' || chr(13)||chr(10) ||
         |         'Content-Length: ' || strlen(env) || chr(13)||chr(10) ||
         |         'WARC-Target-URI: ' || uri || chr(13)||chr(10) ||
         |         'WARC-Refers-To: ' || rid || chr(13)||chr(10) ||
         |         'Content-Type: application/json' || chr(13)||chr(10) ||
         |         chr(13)||chr(10) || env || chr(13)||chr(10) || chr(13)||chr(10) AS rec
         |  FROM e)
         |SELECT doc_id, CAST(length(rec) AS BIGINT) AS rec_len, md5(rec) AS rec_md5
         |FROM r ORDER BY doc_id""".stripMargin
    },

    "q71_wet_serialize" -> {
      // q70's generated clean expression feeds the q34-style byte-exact
      // record build; header order is the serializer's canonical order
      def esc(s: String) = s.replace("'", "''")
      val cleanExpr = graft.ops.TextOps.HtmlChain.foldLeft("html") {
        case (acc, (p, r)) => s"regexp_replace($acc, '${esc(p)}', '${esc(r)}', 'g')"
      }
      s"""WITH h AS (
         |  SELECT doc_id,
         |         '<html><head><title>Doc ' || doc_id
         |           || '</title><style>body{color:red}</style><script>var x=1; if(x<2){x=3;}</script></head>'
         |           || '<body><!-- hidden comment --><h1 class="t">Doc ' || doc_id
         |           || '</h1><p>' || text
         |           || '</p><div>tail &amp; more &lt;b&gt; &quot;q&quot; &#39;x&#39;&nbsp;end</div>'
         |           || '</body></html>' AS html
         |  FROM documents),
         |w AS (SELECT doc_id, $cleanExpr AS wet_text FROM h),
         |r AS (
         |  SELECT doc_id,
         |         'WARC/1.1' || chr(13)||chr(10) ||
         |         'WARC-Date: 2023-11-14T22:13:20Z' || chr(13)||chr(10) ||
         |         'WARC-Type: conversion' || chr(13)||chr(10) ||
         |         'WARC-Record-ID: <urn:uuid:wet-' || doc_id || '>' || chr(13)||chr(10) ||
         |         'Content-Length: ' || strlen(wet_text) || chr(13)||chr(10) ||
         |         'WARC-Target-URI: http://h' || (doc_id % 7) || '.example/d' || doc_id || chr(13)||chr(10) ||
         |         'WARC-Refers-To: <urn:uuid:src-' || doc_id || '>' || chr(13)||chr(10) ||
         |         'Content-Type: text/plain' || chr(13)||chr(10) ||
         |         chr(13)||chr(10) || wet_text || chr(13)||chr(10) || chr(13)||chr(10) AS rec
         |  FROM w)
         |SELECT doc_id, CAST(length(rec) AS BIGINT) AS rec_len, md5(rec) AS rec_md5
         |FROM r ORDER BY doc_id""".stripMargin
    },

    "q70_html_extract" -> {
      // the clean expression is GENERATED from TextOps.HtmlChain — the
      // engines can never drift on a step; patterns are RE2-portable by
      // construction
      def esc(s: String) = s.replace("'", "''")
      val cleanExpr = graft.ops.TextOps.HtmlChain.foldLeft("html") {
        case (acc, (p, r)) => s"regexp_replace($acc, '${esc(p)}', '${esc(r)}', 'g')"
      }
      s"""WITH h AS (
         |  SELECT doc_id,
         |         '<html><head><title>Doc ' || doc_id
         |           || '</title><style>body{color:red}</style><script>var x=1; if(x<2){x=3;}</script></head>'
         |           || '<body><!-- hidden comment --><h1 class="t">Doc ' || doc_id
         |           || '</h1><p>' || text
         |           || '</p><div>tail &amp; more &lt;b&gt; &quot;q&quot; &#39;x&#39;&nbsp;end</div>'
         |           || '</body></html>' AS html
         |  FROM documents)
         |SELECT doc_id,
         |       regexp_extract(html, '(?is)<title\\b[^>]*>(.*?)</title>', 1) AS title,
         |       $cleanExpr AS clean
         |FROM h ORDER BY doc_id""".stripMargin
    },

    "q69_dsir_select" ->
      // mirrors TextOps.dsirSelect: source LM self-trained on the styled
      // corpus (q65's block), target LM trained on the target slice and
      // scored on the corpus with LEFT-join backoff (unseen word -> <unk>,
      // unseen pair -> c2=0, unseen context -> c1=0), micro-nat LONG sums,
      // gumbel key over the md5-uniform coin
      """WITH corpus AS (
        |  SELECT doc_id,
        |         CASE WHEN (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8) = 0
        |              THEN text || ' alpha beta alpha'
        |              WHEN (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8) = 1
        |              THEN text || ' gamma delta gamma'
        |              ELSE text END AS text
        |  FROM documents),
        |tgt AS (
        |  SELECT doc_id, text || ' alpha beta alpha' AS text
        |  FROM documents
        |  WHERE (CAST(('0x' || substr(md5('t:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4) = 0),
        |ctoks AS (SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> len(x) > 0) AS t FROM corpus),
        |cpairs AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM ctoks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)),
        |s_uni AS (SELECT w, count(*) AS cnt FROM (SELECT unnest(t) AS w FROM ctoks) GROUP BY w),
        |s_nv AS (SELECT count(*) AS v FROM s_uni WHERE cnt >= 5),
        |s_umap AS (SELECT w, CASE WHEN cnt >= 5 THEN w ELSE '<unk>' END AS u FROM s_uni),
        |s_ctx AS (SELECT u, sum(cnt) AS c1 FROM s_umap JOIN s_uni USING (w) GROUP BY u),
        |s_mapped AS (
        |  SELECT p.doc_id, m1.u AS u1, m2.u AS u2
        |  FROM cpairs p JOIN s_umap m1 ON p.w1 = m1.w JOIN s_umap m2 ON p.w2 = m2.w),
        |s_model AS (SELECT u1, u2, count(*) AS c2 FROM s_mapped GROUP BY u1, u2),
        |s_sum AS (
        |  SELECT mp.doc_id,
        |         sum(CAST(round((ln(s_model.c2 + 1) - ln(s_ctx.c1 + s_nv.v + 1)) * 1000000) AS BIGINT)) AS q
        |  FROM s_mapped mp JOIN s_model ON mp.u1 = s_model.u1 AND mp.u2 = s_model.u2
        |                   JOIN s_ctx ON mp.u1 = s_ctx.u CROSS JOIN s_nv
        |  GROUP BY mp.doc_id),
        |ttoks AS (SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> len(x) > 0) AS t FROM tgt),
        |tpairs AS (
        |  SELECT t[i] AS w1, t[i + 1] AS w2
        |  FROM ttoks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)),
        |t_uni AS (SELECT w, count(*) AS cnt FROM (SELECT unnest(t) AS w FROM ttoks) GROUP BY w),
        |t_nv AS (SELECT count(*) AS v FROM t_uni WHERE cnt >= 5),
        |t_umap AS (SELECT w, CASE WHEN cnt >= 5 THEN w ELSE '<unk>' END AS u FROM t_uni),
        |t_ctx AS (SELECT u, sum(cnt) AS c1 FROM t_umap JOIN t_uni USING (w) GROUP BY u),
        |t_mapped AS (
        |  SELECT p.doc_id, coalesce(m1.u, '<unk>') AS u1, coalesce(m2.u, '<unk>') AS u2
        |  FROM cpairs p LEFT JOIN t_umap m1 ON p.w1 = m1.w LEFT JOIN t_umap m2 ON p.w2 = m2.w),
        |t_model AS (
        |  SELECT coalesce(m1.u, '<unk>') AS u1, coalesce(m2.u, '<unk>') AS u2, count(*) AS c2
        |  FROM tpairs LEFT JOIN t_umap m1 ON tpairs.w1 = m1.w LEFT JOIN t_umap m2 ON tpairs.w2 = m2.w
        |  GROUP BY 1, 2),
        |t_sum AS (
        |  SELECT mp.doc_id,
        |         sum(CAST(round((ln(coalesce(t_model.c2, 0) + 1) - ln(coalesce(t_ctx.c1, 0) + t_nv.v + 1)) * 1000000) AS BIGINT)) AS q
        |  FROM t_mapped mp LEFT JOIN t_model ON mp.u1 = t_model.u1 AND mp.u2 = t_model.u2
        |                   LEFT JOIN t_ctx ON mp.u1 = t_ctx.u CROSS JOIN t_nv
        |  GROUP BY mp.doc_id),
        |keyed AS (
        |  SELECT s.doc_id,
        |         round((t.q - s.q) / 1000000.0, 3) AS log_w,
        |         CAST(round(((t.q - s.q) / 1000000.0
        |           - ln(-ln((CAST(('0x' || substr(md5('dsir:' || CAST(s.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) + 0.5) / 4294967296.0))) * 1000000) AS BIGINT) AS k
        |  FROM s_sum s JOIN t_sum t USING (doc_id)),
        |ranked AS (
        |  SELECT doc_id, log_w, row_number() OVER (ORDER BY k DESC, doc_id ASC) AS rank
        |  FROM keyed)
        |SELECT doc_id, log_w, rank FROM ranked WHERE rank <= 100 ORDER BY rank""".stripMargin,

    "q67_quantize_int8" ->
      // symmetric int8: scale = max|v|/127, code = clip(round(v/scale));
      // max over exact float->double values and one IEEE divide are
      // bit-deterministic, round is half-away-from-zero in both engines
      """SELECT vec_id,
        |       amax / 127 AS qscale,
        |       CASE WHEN amax = 0
        |            THEN array_to_string(list_transform(embedding, x -> 0), ',')
        |            ELSE array_to_string(list_transform(embedding, x ->
        |                   CAST(least(greatest(round(CAST(x AS DOUBLE) / (amax/127)), -127), 127) AS INTEGER)), ',')
        |       END AS code_str
        |FROM (SELECT vec_id, embedding,
        |        list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS amax
        |      FROM embeddings)
        |ORDER BY vec_id""".stripMargin,

    "q68_quantized_topk" ->
      // ADC ranking: integer dot (order-independent) x one scale multiply
      """WITH c AS (SELECT vec_id AS id, embedding,
        |             list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS amax
        |           FROM embeddings),
        |  qz AS (SELECT id, amax / 127 AS qscale,
        |           CASE WHEN amax = 0
        |                THEN list_transform(embedding, x -> CAST(0 AS DOUBLE))
        |                ELSE list_transform(embedding, x ->
        |                       CAST(least(greatest(round(CAST(x AS DOUBLE) / (amax/127)), -127), 127) AS DOUBLE))
        |           END AS codes
        |         FROM c),
        |  q AS (SELECT vec_id AS qid,
        |          list_transform(embedding, x -> CAST(round(x*1000) AS DOUBLE)) AS qv
        |        FROM embeddings WHERE vec_id < 5),
        |  scored AS (SELECT qid, id, qscale * list_dot_product(codes, qv) AS score FROM qz, q),
        |  ranked AS (SELECT qid, id, score,
        |               row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rank
        |             FROM scored)
        |SELECT qid, id, round(score, 4) AS score, rank
        |FROM ranked WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    "q48_dedup_clusters" ->
      """WITH RECURSIVE
        |  d AS (SELECT doc_id, md5(substring(text, 1, 30)) AS digest FROM documents),
        |  chain AS (
        |    SELECT lag(doc_id) OVER (PARTITION BY digest ORDER BY doc_id) AS id_a,
        |           doc_id AS id_b
        |    FROM d),
        |  pairs AS (SELECT id_a, id_b FROM chain WHERE id_a IS NOT NULL),
        |  edges AS (SELECT id_a AS u, id_b AS v FROM pairs
        |            UNION SELECT id_b, id_a FROM pairs),
        |  reach(u, v) AS (
        |    SELECT u, u FROM edges
        |    UNION
        |    SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
        |SELECT u AS doc_id, CAST(min(v) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin,

    "q44_sanitize_names" ->
      """WITH r AS (
        |  SELECT doc_id,
        |         'dir_sub_file-' || repeat('x', CAST(doc_id % 80 AS INT)) || '-' || doc_id || '.html' AS clean,
        |         n_chars * 100 AS b
        |  FROM documents)
        |SELECT doc_id,
        |       CASE WHEN length(clean) <= 64 THEN clean
        |            ELSE substring(clean, 1, 59) || '.html' END AS filename,
        |       CASE WHEN b < 1024 THEN b || ' B'
        |            WHEN b < 1048576 THEN CAST(round(b/1024.0, 1) AS VARCHAR) || ' KiB'
        |            ELSE CAST(round(b/1048576.0, 1) AS VARCHAR) || ' MiB' END AS size_h
        |FROM r ORDER BY doc_id""".stripMargin
  )
}
