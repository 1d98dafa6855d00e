package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FileFormats

/** Text-format fidelity: JSON and CSV round-trips must preserve every
  * row bit-for-bit on adversarial content (embedded quotes, commas,
  * braces, backslashes — the shapes a `props` JSON column carries).
  */
class FileFormatsSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.local("graft-fileformats-test")

  private def nasty = {
    import spark.implicits._
    Seq(
      (1L, 10L, "click", 1.5, """{"k":"v","s":"a,b"}""", 1700000000000000L),
      (2L, 11L, "view", 0.25, """quote " backslash \ comma , end""", 1700000001000000L),
      (3L, 12L, "buy", -3.75, """{"nested":{"arr":[1,2,3]},"t":"x\ny"}""", 1700000002000000L),
      (4L, 13L, "click", 0.0, "", 1700000003000000L),
      (5L, 14L, "view", 123456.789, "   leading and trailing   ", 1700000004000000L)
    ).toDF("event_id", "user_id", "event_type", "value", "props", "ts_us")
  }

  test("JSON round-trip preserves adversarial rows exactly") {
    val tmp = tempDir("graft_test_json_rt").toString
    FileFormats.writeJson(nasty, tmp)
    val back = FileFormats.readJson(spark, tmp, FileFormats.eventSchema)
    assert(back.except(nasty).count() === 0)
    assert(nasty.except(back).count() === 0)
  }

  test("CSV round-trip preserves adversarial rows exactly") {
    val tmp = tempDir("graft_test_csv_rt").toString
    FileFormats.writeCsv(nasty, tmp)
    val back = FileFormats.readCsv(spark, tmp, FileFormats.eventSchema)
    assert(back.except(nasty).count() === 0)
    assert(nasty.except(back).count() === 0)
  }

  test("gate rollups agree across formats and with the direct path") {
    val dir = "/root/testdata/sf0.001"
    val viaJson = FileFormats.jsonRoundTrip(spark, dir)
    val viaCsv = FileFormats.csvRoundTrip(spark, dir)
    val viaOrc = FileFormats.orcRoundTrip(spark, dir)
    assert(viaJson.except(viaCsv).count() === 0)
    assert(viaCsv.except(viaJson).count() === 0)
    assert(viaOrc.except(viaJson).count() === 0)
    assert(viaJson.except(viaOrc).count() === 0)
  }
}
