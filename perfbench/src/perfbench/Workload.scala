package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Corpus, ExtractJob, PageRow}

/** The corpus every rep of a run extracts: input parquet, golden parquet,
  * and the counts the metrics divide by. */
final case class CorpusInfo(inputDir: String, goldenDir: String, docs: Long, payloadBytes: Long, buckets: Long)

/** What one timed rep must extract: the docs and payload bytes of the
  * buckets that have no lineage row when the rep starts. */
final case class RepWork(docs: Long, payloadBytes: Long)

/** A workload: builds its corpus from the seed, prepares the output
  * directory before each rep (untimed) and lists its docs for the
  * single-thread kernel pass.
  *
  * Every workload is timed in two shapes:
  *  - fresh: `ExtractJob.run` into an empty directory;
  *  - resume: the same corpus after a job was killed halfway — `staged/`
  *    complete, results and lineage present for the first half of the
  *    bucket groups. The finishing run does the staging identity count,
  *    the lineage anti-join, partition-filtered staged scans and dynamic
  *    overwrite, and never rewrites staging.
  */
sealed abstract class Workload(val spark: SparkSession, val seed: Long, val work: Path, threads: Int) {
  import spark.implicits._

  val inputDir: String = work.resolve("input").toString
  val goldenDir: String = work.resolve("golden").toString
  private val half = work.resolve("half")
  private var resumeWork = RepWork(0, 0)

  /** the workload's input rows and their golden texts (url, expected_text) */
  protected def corpus: (DataFrame, DataFrame)

  def localRows: Iterator[PageRow]

  /** writes the input parquet; repeatable (overwrites) */
  def materialise(): Unit =
    corpus._1.write.mode(SaveMode.Overwrite).parquet(inputDir)

  /** writes the golden parquet and counts the input */
  def describe(): CorpusInfo = {
    corpus._2.write.mode(SaveMode.Overwrite).parquet(goldenDir)
    val input = spark.read.parquet(inputDir)
    val r = input.agg(count(lit(1)), sum(length(col("html")))).head()
    val buckets = ExtractJob.withBucket(input.select("warc_ts"), Workload.Buckets)
      .select("warc_bucket").distinct().count()
    CorpusInfo(inputDir, goldenDir, r.getLong(0), r.getLong(1), buckets)
  }

  /** the job under test, with the workload's table layout */
  def run(inputDir: String, out: Path): Unit =
    ExtractJob.run(spark, spark.read.parquet(inputDir), out.toString,
      nBuckets = Workload.Buckets, bucketsPerJob = Workload.BucketsPerJob)

  /** The untimed first run (cold JIT and codegen); its output becomes the
    * halfway state that every resume rep starts from. */
  def warmUp(info: CorpusInfo): Unit = {
    val full = work.resolve("full")
    run(info.inputDir, full)
    val lineage = spark.read.parquet(full.resolve("lineage").toString)
    val groups = lineage.select("warc_bucket").as[Long].collect().sorted
      .grouped(Workload.BucketsPerJob).toSeq
    val done = groups.take(groups.size / 2).flatten.toSet
    Files2.delete(half)
    Files2.copy(full.resolve("staged"), half.resolve("staged"))
    Files.createDirectories(half.resolve("extracted"))
    Files2.list(full.resolve("extracted")).foreach { p =>
      val name = p.getFileName.toString
      val bucket = name.stripPrefix("warc_bucket=")
      if (bucket == name || done.contains(bucket.toLong)) Files2.copy(p, half.resolve("extracted").resolve(name))
    }
    val isDone = col("warc_bucket").isin(done.toSeq: _*)
    lineage.filter(isDone).coalesce(1).write.parquet(half.resolve("lineage").toString)
    val rest = lineage.filter(!isDone)
      .agg(coalesce(sum(col("n_ok") + col("n_err")), lit(0L)), coalesce(sum("bytes_in"), lit(0L))).head()
    resumeWork = RepWork(rest.getLong(0), rest.getLong(1))
    Files2.delete(full)
  }

  /** makes `out` the state a rep starts from */
  def prepare(info: CorpusInfo, out: Path, resume: Boolean): RepWork = {
    Files2.delete(out)
    if (!resume) RepWork(info.docs, info.payloadBytes)
    else {
      Files2.copy(half, out)
      resumeWork
    }
  }

  protected def smallRows(n: Long): Iterator[PageRow] =
    Iterator.range(0, n.toInt).map(i => Corpus.row(seed)(i.toLong))

  protected def smallCorpus(n: Long): (DataFrame, DataFrame) = {
    val s = seed
    (spark.range(0, n, 1, threads).as[Long].map(i => Corpus.row(s)(i)).toDF(),
      spark.range(0, n, 1, threads).as[Long].map(i => Corpus.golden(s)(i)).toDF("url", "expected_text"))
  }
}

object Workload {
  /** Table layout: buckets scale with the corpus (2000 docs per bucket on
    * web-small, as `ExtractJob`'s default 64 buckets give a 128k-doc
    * crawl), so a group's write is not all per-file and per-job cost. */
  final val Buckets = 16
  final val BucketsPerJob = 4
  final val Groups = Buckets / BucketsPerJob
  /** web-small: ~31 MiB of payload */
  final val SmallDocs = 32000L
  /** whales: 3 per bucket group, ~30 MiB, among small docs worth ~2 MiB */
  final val WhalesPerGroup = 3
  final val WhaleSmallDocs = 2000L

  val names: Seq[String] = Seq("web-small", "whales")

  def apply(name: String, spark: SparkSession, seed: Long, work: Path, threads: Int): Workload = name match {
    case "web-small" => new WebSmall(spark, seed, work, threads)
    case "whales" => new WhalesWorkload(spark, seed, work, threads)
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (${names.mkString(", ")})")
  }
}

/** Typical crawl population: `Corpus.row` docs, ~1 KB each, none above the
  * skew threshold, so the whale shuffle is bypassed. */
final class WebSmall(spark: SparkSession, seed: Long, work: Path, threads: Int)
    extends Workload(spark, seed, work, threads) {
  protected def corpus: (DataFrame, DataFrame) = smallCorpus(Workload.SmallDocs)
  def localRows: Iterator[PageRow] = smallRows(Workload.SmallDocs)
}

/** Most payload bytes in 1–4 MiB docs, `WhalesPerGroup` in every bucket
  * group, among a few thousand small docs. Each whale's capture time is
  * the first candidate whose bucket (as `ExtractJob.withBucket` computes
  * it) falls in the whale's group. */
final class WhalesWorkload(spark: SparkSession, seed: Long, work: Path, threads: Int)
    extends Workload(spark, seed, work, threads) {
  import spark.implicits._

  private val nWhales = Workload.WhalesPerGroup * Workload.Groups

  private lazy val whaleTimes: Array[Timestamp] = {
    val candidates = for (i <- 0 until nWhales; j <- 0 until 256)
      yield (i, j, Whales.candidateTime(i.toLong, j))
    val bucketed = ExtractJob.withBucket(candidates.toDF("i", "j", "warc_ts"), Workload.Buckets)
      .select("i", "j", "warc_ts", "warc_bucket").as[(Int, Int, Timestamp, Long)].collect()
    Array.tabulate(nWhales) { i =>
      bucketed.filter(c => c._1 == i && c._4 / Workload.BucketsPerJob == i % Workload.Groups)
        .sortBy(_._2).headOption
        .getOrElse(sys.error(s"no capture time puts whale $i in group ${i % Workload.Groups}"))._3
    }
  }

  protected def corpus: (DataFrame, DataFrame) = {
    val (small, smallGolden) = smallCorpus(Workload.WhaleSmallDocs)
    val s = seed
    val whales = spark.createDataset(whaleTimes.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .repartition(threads)
    val pages = whales.map { case (i, t) => Whales.row(s, i, t) }.toDF()
    val golden = whales.map { case (i, _) => (Whales.url(i), Whales.golden(s, i)) }.toDF("url", "expected_text")
    (small.unionByName(pages), smallGolden.unionByName(golden))
  }

  def localRows: Iterator[PageRow] =
    smallRows(Workload.WhaleSmallDocs) ++
      Iterator.range(0, nWhales).map(i => Whales.row(seed, i.toLong, whaleTimes(i)))
}

object Files2 {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def list(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
  }

  /** recursive copy, including Hadoop's .crc side files */
  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** (bytes, files) of the regular files under p */
  def usage(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var bytes = 0L
        var files = 0L
        s.forEach(f => if (Files.isRegularFile(f)) { bytes += Files.size(f); files += 1 })
        (bytes, files)
      } finally s.close()
    }
}
