package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Every registry operator must tolerate an EMPTY fixture: at corpus
  * scale a selective filter, a fresh ingest landing, or an off-hours
  * time window routinely hands an operator zero rows, and "crashes on
  * empty input" is a pipeline-killing failure class that small-fixture
  * gates never exercise. The spec materializes a schema-identical
  * all-empty mirror of sf0.001 and runs EVERY SparkEntry query over
  * it: each must produce a frame (empty or not) without throwing.
  */
class EmptyFixtureSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.local("graft-empty-test")

  private lazy val emptyDir: String = {
    val dir = tempDir("graft_empty").toString
    graft.sources.Tables.allTables.foreach { t =>
      val src =
        if (t == "events") graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
        else spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
      src.limit(0).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("every registry query runs on an all-empty fixture without throwing") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, emptyDir).queryExecution.toRdd.count(); None }
        catch {
          case e: Throwable =>
            Some(name -> s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
        }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries fail on empty input:\n" +
        failures.map { case (n, e) => s"  $n -> $e" }.mkString("\n"))
  }
}
