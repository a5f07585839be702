package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.SparkFixture

class SparkEntrySpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("readT infers the new schema of a table regenerated at a file: URI") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-readt")
    val uri = dir.resolve("t.parquet").toUri.toString
    try {
      Seq((1L, "a")).toDF("id", "s").write.mode("overwrite").parquet(uri)
      assert(SparkEntry.readT(spark, uri).columns.toSeq == Seq("id", "s"))
      Seq((2L, 3.5, true)).toDF("id", "x", "flag").write.mode("overwrite").parquet(uri)
      val again = SparkEntry.readT(spark, uri)
      assert(again.columns.toSeq == Seq("id", "x", "flag"))
      assert(again.as[(Long, Double, Boolean)].collect().toSeq == Seq((2L, 3.5, true)))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
      }
      rm(dir.toFile)
    }
  }
}
