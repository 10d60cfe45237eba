package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.WarcDigest.warc_sha1_b32
import graft.web.SyntheticWeb

/**
 * Seeded inputs. Every table is a pure function of (seed, sizes): all
 * randomness is `xxhash64(seed, tag, ...)`, so the same seed gives the same
 * rows on any core count. Tables are written as parquet during set-up and
 * the library only ever sees `spark.read.parquet` of them.
 *
 * The crawl web follows the shape of the library's own fixtures: one hot
 * host holding 10 % of the pages, ~12 % payload duplicates (content classes
 * smaller than the page space), a seed list with exact duplicates and
 * canonicalization variants, robots rules, and doppelganger/CDX reference
 * tables that hit ~1/10 of the content classes each.
 */
final case class WebSize(pages: Long, seeds: Long, hosts: Int, hotPermille: Int = 100)

object Fixtures {

  private def h(seed: Long, tag: String, cs: Column*): Column =
    xxhash64(lit(seed) +: lit(tag) +: cs: _*)

  private def hostOf(seed: Long, j: Column, w: WebSize): Column =
    when(pmod(h(seed, "hostsel", j), lit(1000)) < lit(w.hotPermille), lit(0))
      .otherwise(lit(1) + pmod(h(seed, "hostpick", j), lit(math.max(1, w.hosts - 1))))

  private def urlOf(seed: Long, j: Column, w: WebSize): Column =
    concat(lit("http://host"), hostOf(seed, j, w).cast("string"), lit(".example/p"), j.cast("string"))

  /** (page_id, doc_id, url, url_key, host, cls, spans) — the library's page shape. */
  def pages(spark: SparkSession, seed: Long, w: WebSize): DataFrame = {
    val j = col("id")
    val cls = pmod(h(seed, "content", j), lit(math.max(1L, w.pages * 88 / 100)))
    val nSpans = lit(1) + pmod(h(seed, "nspans", cls), lit(8))
    val spans = transform(sequence(lit(0), nSpans - lit(1)), k => {
      val sel = pmod(h(seed, "kind", cls, k), lit(5))
      val kind = when(sel <= 1, lit("text")).when(sel === 2, lit("media")).otherwise(lit("link"))
      val words = concat_ws(" ",
        transform(sequence(lit(0), lit(4) + pmod(h(seed, "nw", cls, k), lit(12))),
          x => concat(lit("w"), pmod(h(seed, "word", cls, k, x), lit(500)).cast("string"))))
      val target = pmod(h(seed, "link", cls, k), lit(w.pages))
      val text = when(kind === "text", words).when(kind === "link", urlOf(seed, target, w))
        .otherwise(lit(""))
      val media = when(kind === "media",
        concat(lit("media://"), lower(hex(h(seed, "media", cls, k))))).otherwise(lit(""))
      struct(kind.as("kind"), text.as("text"), media.as("media_ref"), k.cast("int").as("offset"))
    })
    spark.range(w.pages).select(
      j.as("page_id"),
      format_string("d%08d", j).as("doc_id"),
      urlOf(seed, j, w).as("url"),
      urlOf(seed, j, w).as("url_key"),
      concat(lit("host"), hostOf(seed, j, w).cast("string"), lit(".example")).as("host"),
      cls.as("cls"),
      spans.as("spans"))
  }

  /** Seed list: ~5 % exact duplicates of the previous seed and ~5 %
    * denormalized variants (upper-case scheme/host, explicit :80,
    * dot-segments, %-encoded unreserved) that canonicalize onto it. */
  def seeds(spark: SparkSession, seed: Long, w: WebSize): DataFrame = {
    val i = col("id")
    val pick = pmod(h(seed, "seed", i), lit(w.pages))
    val prev = pmod(h(seed, "seed", greatest(i - 1, lit(0))), lit(w.pages))
    val variant = pmod(h(seed, "variant", i), lit(20))
    val host = concat(lit("host"), hostOf(seed, prev, w).cast("string"), lit(".example"))
    val n = prev.cast("string")
    val sel = pmod(h(seed, "denorm", i), lit(4))
    val denorm =
      when(sel === 0, concat(lit("HTTP://"), upper(host), lit("/p"), n))
        .when(sel === 1, concat(lit("http://"), host, lit(":80/p"), n))
        .when(sel === 2, concat(lit("http://"), host, lit("/a/../p"), n))
        .otherwise(concat(lit("http://"), host, lit("/%70"), n))
    spark.range(w.seeds).select(
      when(variant === 0, urlOf(seed, prev, w)).when(variant === 1, denorm)
        .otherwise(urlOf(seed, pick, w)).as("url"),
      (lit(1) + pmod(h(seed, "prio", i), lit(3))).cast("int").as("priority"),
      timestamp_seconds(lit(1700000000L) + i).as("discovery_time"))
  }

  /** robots.txt rules: every 7th host disallows "/p1", the hot host "/p2". */
  def robots(spark: SparkSession, w: WebSize): DataFrame = {
    val x = col("id")
    spark.range(w.hosts).select(
      concat(lit("host"), x.cast("string"), lit(".example")).as("host"),
      lit("*").as("user_agent"),
      lit("disallow").as("rule_type"),
      when(x === 0, lit("/p2")).when(pmod(x, lit(7)) === 3, lit("/p1"))
        .otherwise(lit(null).cast("string")).as("path_prefix"))
      .filter(col("path_prefix").isNotNull)
  }

  /** CDX prior captures of ~1/10 of the content classes; `digests` holds
    * (cls, url_key, url, digest, size) per page. */
  def cdx(digests: DataFrame, seed: Long): DataFrame =
    digests.filter(pmod(h(seed, "cdx", col("cls")), lit(10)) === 0)
      .select(col("url_key"), lit("20220320002518").as("ts_compact"), col("url").as("uri"),
        lit("text/html").as("mime"), lit("200").as("status"), col("digest"), col("size"))
      .dropDuplicates("digest")

  /** Doppelganger captures of a disjoint ~1/10 of the content classes. */
  def doppelganger(digests: DataFrame, seed: Long): DataFrame =
    digests.filter(pmod(h(seed, "cdx", col("cls")), lit(10)) === 1)
      .select(col("digest"),
        concat(lit("<urn:uuid:dg-"), lower(hex(h(seed, "dg", col("cls")))), lit(">")).as("id"),
        col("url").as("uri"), lit(20220101000000L).as("date_compact"))
      .dropDuplicates("digest")

  /** Write the crawl inputs under `dir`. */
  def writeWeb(spark: SparkSession, seed: Long, w: WebSize, dir: String): Unit = {
    pages(spark, seed, w).write.mode("overwrite").parquet(s"$dir/pages")
    val payload = SyntheticWeb.payloadExpr(col("spans"))
    val digests = spark.read.parquet(s"$dir/pages").select(col("cls"), col("url_key"), col("url"),
      warc_sha1_b32(payload).as("digest"), length(payload).cast("long").as("size")).localCheckpoint()
    seeds(spark, seed, w).write.mode("overwrite").parquet(s"$dir/seeds")
    robots(spark, w).write.mode("overwrite").parquet(s"$dir/robots")
    doppelganger(digests, seed).write.mode("overwrite").parquet(s"$dir/dopp")
    cdx(digests, seed).write.mode("overwrite").parquet(s"$dir/cdx")
    digests.unpersist()
  }

  final case class Web(pages: DataFrame, seeds: DataFrame, robots: DataFrame,
                       dopp: DataFrame, cdx: DataFrame)

  def readWeb(spark: SparkSession, dir: String): Web = {
    def rd(n: String) = spark.read.parquet(s"$dir/$n")
    Web(rd("pages"), rd("seeds"), rd("robots"), rd("dopp"), rd("cdx"))
  }

  // ---- neardup corpus -------------------------------------------------------

  /** Corpus shape: `bases` independent documents of `minWords` to
    * `maxWords` words; the first `exactClusters` get `exactCopies` copies
    * that differ only in case and whitespace, the next `nearClusters` get
    * `nearCopies` copies with ~`editPermille`/1000 of their words replaced. */
  final case class CorpusSize(bases: Long, minWords: Int, maxWords: Int, exactClusters: Long,
                              exactCopies: Int, nearClusters: Long, nearCopies: Int,
                              editPermille: Int)

  /** Columns: id, text, base (the planted source document), kind
    * ("base" | "exact" | "near"). One row per (document, word position) is
    * generated and joined back in position order. */
  def corpus(spark: SparkSession, seed: Long, c: CorpusSize): DataFrame = {
    val b = col("base")
    val copy = col("copy")
    val p = col("p")
    val bases = spark.range(c.bases).select(col("id").as("base"), lit(0).as("copy"), lit("base").as("kind"))
    val exact = spark.range(c.exactClusters * c.exactCopies).select(
      (col("id") / c.exactCopies).cast("long").as("base"),
      (pmod(col("id"), lit(c.exactCopies.toLong)) + 1).cast("int").as("copy"), lit("exact").as("kind"))
    val near = spark.range(c.nearClusters * c.nearCopies).select(
      (lit(c.exactClusters) + col("id") / c.nearCopies).cast("long").as("base"),
      (pmod(col("id"), lit(c.nearCopies.toLong)) + 1).cast("int").as("copy"), lit("near").as("kind"))
    val nWords = lit(c.minWords) + pmod(h(seed, "len", b), lit(c.maxWords - c.minWords))
    val edited = col("kind") === "near" && pmod(h(seed, "mut", b, copy, p), lit(1000)) < c.editPermille
    val pick = when(edited, h(seed, "edit", b, copy, p)).otherwise(h(seed, "w", b, p))
    val plain = bases.unionByName(exact).unionByName(near)
      .select(b, copy, col("kind"), explode(sequence(lit(0), nWords - 1)).as("p"))
      .select(b, copy, col("kind"), struct(p, concat(lit("t"), pmod(pick, lit(6000)).cast("string")).as("w")).as("pw"))
      .groupBy(b, copy, col("kind"))
      .agg(concat_ws(" ", array_sort(collect_list(col("pw"))).getField("w")).as("t"))
    // exact copies vary only in case and whitespace: identical after normalization
    val text = when(col("kind") =!= "exact", col("t"))
      .when(pmod(copy, lit(2)) === 0, upper(col("t")))
      .otherwise(concat(lit("  "), regexp_replace(col("t"), " ", " \t "), lit("  ")))
    plain.select(h(seed, "id", b, copy).as("id"), text.as("text"), b, col("kind"))
  }
}
