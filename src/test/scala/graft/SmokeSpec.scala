package graft

import org.apache.spark.sql.functions._

import graft.fetch.Fetch
import graft.jobs.Crawl
import graft.web.SyntheticWeb

/** End-to-end smoke: generate the synthetic web, run 2 crawl rounds, check shapes. */
class SmokeSpec extends SparkSpec {

  test("synthetic docs table has the input_hint shape") {
    val docs = SyntheticWeb.docs(spark, 200)
    assert(docs.columns.toSeq == Seq("doc_id", "spans"))
    val row = docs.orderBy("doc_id").head()
    assert(row.getString(0) == "d00000000")
    val spans = row.getSeq[org.apache.spark.sql.Row](1)
    assert(spans.nonEmpty)
    val fieldNames = spans.head.schema.fieldNames.toSeq
    assert(fieldNames == Seq("kind", "text", "media_ref", "offset"),
      s"span struct fields were $fieldNames")
    // offsets strictly increasing from 0
    assert(spans.map(_.getInt(3)) == spans.indices.map(identity))
    // kind-conditional fields
    spans.foreach { s =>
      val (kind, text, media) = (s.getString(0), s.getString(1), s.getString(2))
      if (kind == "media") assert(media.startsWith("media://") && text.isEmpty)
      else assert(media.isEmpty && text.nonEmpty)
      if (kind == "link") assert(text.startsWith("http://host"))
    }
  }

  test("SparkEntry.entry returns rows (its smoke contract: rows > 0)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("two crawl rounds produce warc rows, revisits, and growing seen set") {
    val n = 300L
    val pages = SyntheticWeb.pages(spark, n).cache()
    val seeds = SyntheticWeb.seeds(spark, 100, n)
    val robots = SyntheticWeb.robots(spark)
    val dopp = SyntheticWeb.doppelganger(spark, n)
    val cdx = SyntheticWeb.cdx(spark, n)
    val res = Crawl.run(spark, pages, seeds, Some(robots), Some(dopp), Some(cdx),
      Crawl.Config(maxRounds = 2, perHostBudget = 50, numSlots = 8,
        dedupSizeThreshold = 32, numShards = 4))
    assert(res.rounds.nonEmpty)
    val r0 = res.rounds.head
    assert(r0.scheduled > 0, "round 0 scheduled nothing")
    assert(r0.outlinks > 0, "no outlinks extracted")
    val warc = res.warcRows.cache()
    val types = warc.groupBy("warc_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(types.contains("response") && types.contains("request"))
    // every pair has exactly one response/revisit (seq 0) and one request (seq 1)
    val badPairs = warc.groupBy("pair_id").agg(count(lit(1)).as("n"),
      sum(when(col("seq") === 0, 1).otherwise(0)).as("resp")).filter(col("n") =!= 2 || col("resp") =!= 1).count()
    assert(badPairs == 0, s"$badPairs malformed pairs")
    // concurrent_to cross-references resolve
    val ids = warc.select(col("record_id")).distinct()
    val dangling = warc.select(col("concurrent_to").as("record_id"))
      .join(ids, Seq("record_id"), "left_anti").count()
    assert(dangling == 0, s"$dangling dangling concurrent_to refs")
    // revisits carry the required fields (FIXTURES §5)
    val badRevisits = warc.filter(col("warc_type") === "revisit" &&
      (col("profile") =!= Fetch.RevisitProfile || col("truncated") =!= "length" ||
        col("refers_to_target_uri").isNull)).count()
    assert(badRevisits == 0)
    // revisit content is the header block only => strictly shorter than its original
    assert(res.rounds.map(_.revisits).sum > 0, "dedup produced no revisits at all")
    // url_seen has no duplicates (idempotent scheduling)
    val seenDup = res.seenKeys.groupBy("url_key").count().filter(col("count") > 1).count()
    assert(seenDup == 0, s"$seenDup duplicate url_keys in seen set")
    warc.unpersist(); pages.unpersist()
  }
}
