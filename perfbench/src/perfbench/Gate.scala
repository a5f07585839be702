package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.ExtractJob

/** Correctness gate on the output directory of one `ExtractJob.run`:
  * `ExtractJob.goldenDiff` of every result row against the golden parquet
  * (0 mismatched, 0 missing, 0 extra), and lineage with exactly one row
  * per bucket whose `n_ok + n_err` sum to the corpus size. It covers every
  * bucket, also those committed before a resumed run started. A run gates
  * the output of its last fresh and last resume rep in full and the
  * lineage of every rep. */
object Gate {
  final case class Report(failedDocs: Long, violations: Seq[String])

  /** lineage only: one row per bucket, counts summing to the corpus */
  def lineage(spark: SparkSession, outDir: String, info: CorpusInfo): Report =
    Report(0L, lineageViolations(spark, outDir, info))

  private def lineageViolations(spark: SparkSession, outDir: String, info: CorpusInfo): Seq[String] = {
    val l = spark.read.parquet(s"$outDir/lineage")
      .agg(count(lit(1)), countDistinct(col("warc_bucket")), sum(col("n_ok") + col("n_err"))).head()
    val (lRows, lBuckets, lDocs) = (l.getLong(0), l.getLong(1), l.getLong(2))
    Seq(
      (lRows == info.buckets && lBuckets == info.buckets,
        s"lineage has $lRows rows over $lBuckets buckets, corpus has ${info.buckets} buckets"),
      (lDocs == info.docs, s"lineage counts $lDocs docs, corpus has ${info.docs}"))
      .collect { case (false, msg) => msg }
  }

  /** the full gate: every result row against its golden text, and lineage */
  def check(spark: SparkSession, outDir: String, info: CorpusInfo): Report = {
    val extracted = spark.read.parquet(s"$outDir/extracted")
    val golden = spark.read.parquet(info.goldenDir)
    val d = ExtractJob.goldenDiff(extracted, golden).agg(
      count(lit(1)),
      sum(when(col("extracted_text").isNotNull && col("expected_text").isNotNull && !col("matches"), 1L).otherwise(0L)),
      sum(when(col("extracted_text").isNull, 1L).otherwise(0L)),
      sum(when(col("expected_text").isNull, 1L).otherwise(0L))).head()
    val (diffRows, mismatched, missing, extra) = (d.getLong(0), d.getLong(1), d.getLong(2), d.getLong(3))
    val r = extracted.agg(count(lit(1)), sum(when(col("status") =!= "ok", 1L).otherwise(0L))).head()
    val (rows, notOk) = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    val v = Seq(
      (mismatched == 0, s"$mismatched rows differ from their golden text"),
      (missing == 0, s"$missing golden docs have no result row"),
      (extra == 0, s"$extra result rows have no golden doc"),
      (rows == info.docs && diffRows == info.docs, s"$rows result rows, ${info.docs} docs"))
    Report(notOk + missing, v.collect { case (false, msg) => msg } ++ lineageViolations(spark, outDir, info))
  }
}
