package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.DedupOps

/**
 * `neardup`: a seeded corpus with planted exact-duplicate and near-duplicate
 * clusters through exact dedup, `DedupOps.minhashLshPairs` and
 * `keepClusterRepresentatives`. No crawl or WARC layer runs here, so a
 * crawl-side change predicts no change on this workload and the reverse.
 */
final class NeardupWorkload(seed: Long, work: Path, goldens: Goldens) extends Workload {
  val name = "neardup"
  val corpusSize = Fixtures.CorpusSize(bases = 4000, minWords = 40, maxWords = 90,
    exactClusters = 500, exactCopies = 3, nearClusters = 500, nearCopies = 3, editPermille = 30)
  /** `minhashLshPairs`' default verification threshold. */
  val Threshold = 0.7
  private def dir = work.resolve("corpus").toString
  private var docs: DataFrame = _
  private var nDocs = 0L

  /** Normalized text and its distinct 5-character shingles, from built-ins
    * only (the independent recomputation the pair check relies on). */
  private def norm(text: Column): Column = regexp_replace(lower(trim(text)), "\\s+", " ")
  private def shingles(text: Column): Column =
    array_distinct(regexp_extract_all(norm(text), lit("(?=(.{5}))"), lit(1)))
  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  def setup(spark: SparkSession): Unit = {
    Fixtures.corpus(spark, seed, corpusSize).write.mode("overwrite").parquet(s"$dir/docs")
    docs = spark.read.parquet(s"$dir/docs")
    nDocs = docs.count()
  }

  /** Planted near-duplicate pairs (same source document) whose exact
    * shingle Jaccard reaches the threshold: the pairs recall is measured
    * against. */
  private def truth(): DataFrame = {
    val c = corpusSize
    val sh = docs.filter(col("base") >= c.exactClusters && col("base") < c.exactClusters + c.nearClusters)
      .select(col("id"), col("base"), shingles(col("text")).as("s")).localCheckpoint()
    sh.as("a").join(sh.as("b"), col("a.base") === col("b.base") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), jaccard(col("a.s"), col("b.s")).as("j"))
      .filter(col("j") >= Threshold)
      .localCheckpoint()
  }

  private final case class Out(exact: DataFrame, pairs: DataFrame, kept: DataFrame)

  private def pipeline(tr: Option[Tracer]): Out = {
    def span[T](n: String)(b: => T): T = tr.map(_.span(n)(b)).getOrElse(b)
    val exact = span("ops.exact_dedup")(
      DedupOps.exactDedup(docs.select("id", "text"), "text", "id").localCheckpoint())
    val pairs = span("ops.lsh_pairs")(DedupOps.minhashLshPairs(exact, "id", "text").localCheckpoint())
    val kept = span("ops.keep_reps")(DedupOps.keepClusterRepresentatives(exact, pairs, "id").localCheckpoint())
    Out(exact, pairs, kept)
  }

  def warmup(spark: SparkSession): Unit = { pipeline(None); Common.releaseStorage(spark) }

  /** Checks one pipeline output against the golden digest, and against the
    * invariants when `full`; returns its digest. */
  private def check(o: Out, full: Boolean): String = {
    val ids = o.kept.select(col("id"))
    val d = s"${Common.digest(o.pairs)}/${Common.digest(ids)}"
    CrawlChecks.golden("neardup", d, goldens.get(name, seed).headOption)
    if (full) invariants(o)
    d
  }

  private def invariants(o: Out): Unit = {
    def fail(what: String) = throw new CheckFailed(what)
    val nExact = o.exact.count()
    val distinctTexts = docs.select(md5(norm(col("text")))).distinct().count()
    if (nExact != distinctTexts) fail(s"exact dedup kept $nExact docs for $distinctTexts distinct texts")
    val inPairs = o.pairs.select(col("id_a").as("id")).unionByName(o.pairs.select(col("id_b").as("id")))
    val sh = o.exact.join(inPairs.distinct(), "id").select(col("id"), shingles(col("text")).as("s"))
      .localCheckpoint()
    val bad = o.pairs
      .join(sh.select(col("id").as("id_a"), col("s").as("sa")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("s").as("sb")), Seq("id_b"))
      .withColumn("j", jaccard(col("sa"), col("sb")))
      .filter(col("j") < Threshold - 1e-9 || abs(col("j") - col("jaccard")) > 1e-3).count()
    if (bad > 0) fail(s"$bad pairs below the Jaccard threshold or misreported")
    val ids = o.kept.select(col("id"))
    val together = o.pairs.join(ids.withColumnRenamed("id", "id_a"), "id_a")
      .join(ids.withColumnRenamed("id", "id_b"), "id_b").count()
    if (together > 0) fail(s"$together near-duplicate pairs both survived")
  }

  def timed(spark: SparkSession, seconds: Double, out: RunResult, storage: StorageMeter): Unit = {
    val walls = mutable.Buffer[Double](); val peaks = mutable.Buffer[Double]()
    val digests = mutable.LinkedHashSet[String]()
    while (walls.size < 2 || walls.sum < seconds) {
      Common.releaseStorage(spark)
      storage.mark()
      val (o, wall) = Common.timed(pipeline(None))
      peaks += storage.peakSinceMb
      Common.log(f"op ${walls.size} took $wall%.2f s")
      walls += wall
      out.op("neardup op") { digests += check(o, full = walls.size == 1) }
    }
    if (digests.size > 1) out.fail(s"neardup output differs between operations: $digests")
    out.metric("items_per_s", nDocs / Common.median(walls.toSeq), "items/s")
    out.metric("op_p50_s", Common.median(walls.toSeq), "s")
    out.metric("peak_storage_mb", Common.median(peaks.toSeq), "MB")
    out.info("ops") = walls.size
    out.info("digests") = digests.toSeq
  }

  def traced(spark: SparkSession, out: RunResult): Map[String, Double] = {
    Common.releaseStorage(spark)
    val (plain, plainWall) = Common.timed(pipeline(None))
    val plainDigest = out.op("neardup op")(check(plain, full = false))
    Common.releaseStorage(spark)
    val tr = new Tracer(spark.sparkContext, s"neardup-$seed")
    val o = tr.span("ops.neardup")(pipeline(Some(tr)))
    tr.close()
    out.op("traced neardup") {
      val d = check(o, full = true)
      if (!plainDigest.contains(d)) throw new CheckFailed(s"traced neardup digest $d != $plainDigest")
    }
    val root = tr.spans.head
    val nPairs = o.pairs.count()
    val vertices = o.pairs.select(col("id_a").as("id")).unionByName(o.pairs.select(col("id_b").as("id")))
      .distinct().count()
    val nExact = o.exact.count(); val nKept = o.kept.count()
    val planted = truth()
    val found = o.pairs.join(planted, Seq("id_a", "id_b")).count()
    val m = tr.sparkFigures(root, Layers.SidePasses) ++ Map(
      "ops.exact_dedup_s" -> tr.total("ops.exact_dedup"),
      "ops.lsh_pairs_s" -> tr.total("ops.lsh_pairs"),
      "ops.keep_reps_s" -> tr.total("ops.keep_reps"),
      "ops.pairs" -> nPairs.toDouble,
      "ops.pair_recall" -> found.toDouble / math.max(1L, planted.count()),
      "ops.clusters" -> (vertices - (nExact - nKept)).toDouble,
      "ops.docs_kept" -> nKept.toDouble,
      "trace.overhead_ratio" -> tr.compositionWall(root, Layers.SidePasses) / plainWall)
    out.info("spans") = Json.Raw(tr.toJson)
    Common.releaseStorage(spark)
    m ++ Map("functions.minhash_rows_per_s" -> Layers.minhashRate(docs))
  }
}
