package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The canary fixture generator keeps each table's derived columns
  * consistent with the replicated data it writes.
  */
class CanaryGenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("graft-canary-test")

  test("documents.n_chars is the length of the salted text in every replica") {
    val out = java.nio.file.Files.createTempDirectory("graft_canary_spec")
    try {
      CanaryGen.scaleAll(spark, "/root/testdata/sf0.001", out.toString, 2)
      val docs = spark.read.parquet(s"$out/documents.parquet")
      val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      assert(docs.count() === 2 * base.count())
      // replica 1 is the salted one: its rows carry the `_r1` suffix
      assert(docs.filter(col("text").contains("_r1")).count() > 0)
      val wrong = docs.filter(!(col("n_chars") <=> length(col("text"))))
      assert(wrong.count() === 0,
        s"n_chars != length(text):\n${wrong.limit(3).collect().mkString("\n")}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
  }
}
