package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): one JSON line with per-query
  * wall-clock seconds over `SPARK_GRAFT_SF_DIR`.
  *
  * Protocol (BASELINE.md): a full warm-up pass over every query
  * (JIT + codegen cache + parquet footer cache — a JVM-cold first
  * query would otherwise absorb ~5 s of session startup), then
  * `passes` measurement passes over the whole suite, `runs` samples
  * each; per query the reported number is the MIN across all
  * samples of all passes. Min-across-temporally-separated-passes is
  * the noise-robust estimator for a shared host: BENCH_r02 showed a
  * one-minute external CPU storm inflating one contiguous
  * alphabetical window (dedup_*) 7–28× while every other query sat
  * in band — back-to-back medians can't see through that, two
  * passes ~40 s apart can. All samples go to stderr for scrutiny.
  *
  * Evaluation is forced through `queryExecution.toRdd.count()`:
  * the RDD boundary sits ABOVE the optimized physical plan, so
  * Catalyst cannot prune output columns or drop the final sort the
  * way it can under `df.count()` — narrow-map queries are measured
  * producing every output column, not as a parquet row count.
  *
  * Failures are loud: a query that throws prints the stack to stderr,
  * reports -1.0 in the JSON, and the process exits nonzero.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    var failed = List.empty[String]
    // Dev aid: SPARK_GRAFT_ONLY=q1,q2 restricts the run for
    // single-query iteration (rule: [[SparkEntry.gateSelector]]).
    val only = SparkEntry.gateSelector(sys.env.get("SPARK_GRAFT_ONLY"))
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only(n) }
    // stable ordering; streaming replays timed like any other query
    // (their checkpoint dirs are unique per run).
    def once(name: String, fn: (SparkSession, String) => DataFrame): Option[Double] =
      try Some(time(fn(spark, sfDir).queryExecution.toRdd.count()))
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name sample FAILED: $e")
          e.printStackTrace()
          None
      }
    selected.foreach { case (name, fn) => once(name, fn) } // warm-up pass
    val sampled = (1 to passes).flatMap { p =>
      selected.map { case (name, fn) =>
        name -> Seq.fill(runs)(once(name, fn)).flatten
      }
    }
    // A query fails the RUN only if every measured sample failed (a
    // warm-up-only or transient single-sample error is logged above
    // but the surviving samples still carry a valid measurement —
    // partial failures are flagged loudly so the instability is
    // visible next to the reported min).
    val expected = passes * runs
    val results = selected.map { case (name, _) =>
      val samples = sampled.collect { case (n, ss) if n == name => ss }.flatten.sorted
      System.err.println(f"[bench] $name samples=${samples.map(s => f"$s%.2f").mkString(",")}" +
        (if (samples.nonEmpty && samples.length < expected)
          s" (PARTIAL: ${expected - samples.length}/$expected samples failed)" else ""))
      if (samples.isEmpty) failed ::= name
      name -> (if (samples.isEmpty) -1.0 else samples.head)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    // OUTPUT-ORDERING CONTRACT (BENCH_r13 defect): every noisy teardown
    // runs BEFORE the summary printlns. releaseAll() unpersists each
    // tracked locally-checkpointed RDD and Spark logs an expected
    // "RDD N was locally checkpointed" WARN per release — in r13 those
    // hundreds of lines landed AFTER the summary and scrolled it out of
    // the driver's captured tail (BENCH_r13.json parsed:null). The WARN
    // is teardown noise, not signal, so it is also silenced for the
    // release (scoped to org.apache.spark.rdd, restored after).
    // capture-and-restore of the EXPLICIT config, not the effective
    // level (ADVICE r14/r15): a user log4j config setting this logger
    // to INFO/DEBUG must survive, and a logger that only INHERITED its
    // level must not be pinned to an explicit config by the restore.
    LogQuiet.withLevel("org.apache.spark.rdd",
        org.apache.logging.log4j.Level.ERROR) {
      graft.ext.CorpusCache.releaseAll() // run boundary: drop corpus caches
    }
    println(line)
    // Persist the full per-gate map as a FILE too (VERDICT r9 item 8):
    // the driver's BENCH_r{N}.json tail capture truncates the ~6 KB
    // line alphabetically (only 56/203 gates were diffable r8→r9), so
    // the committed copy of this file is what a round-over-round
    // per-gate diff actually reads. tools/make_bands.py accepts it as
    // either the fresh or the historical input.
    try {
      // anchored to the REPO ROOT found by walking up from this
      // class's own code source to the dir holding build.sbt —
      // advisory r10 wanted the build tree instead of the CWD, but a
      // fixed ../.. from the code source breaks under sbt's bgRun
      // launcher (the classpath is a jar in target/bg-jobs/<job>/,
      // which sbt deletes with the job — the first fix silently
      // wrote the committed-copy diff input into that ephemeral
      // dir). SPARK_GRAFT_BENCH_OUT overrides for odd launchers.
      val src = java.nio.file.Paths.get(
        getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
      val repoRoot = Iterator.iterate(src)(_.getParent)
        .takeWhile(_ != null)
        .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
      sys.env.get("SPARK_GRAFT_BENCH_OUT")
        .map(java.nio.file.Paths.get(_))
        .orElse(repoRoot.map(_.resolve("target")
          .resolve("bench_per_gate.json"))) match {
        case Some(out) =>
          java.nio.file.Files.createDirectories(out.getParent)
          java.nio.file.Files.write(out,
            (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        case None =>
          System.err.println("[bench] per-gate file skipped: no " +
            "build.sbt above the code source and no SPARK_GRAFT_BENCH_OUT")
      }
    } catch { case e: Exception =>
      System.err.println(s"[bench] per-gate file write failed: $e")
    }
    // The full line above is ~6 KB and the driver's tail-capture can
    // truncate its head (BENCH_r03 lost the "value" field that way).
    // Repeat the headline numbers as a final COMPACT line so the total
    // always survives a tail grab, whatever the capture window.
    // Session stop is the last remaining noisy step — run it at ERROR
    // (same teardown-noise rationale) so the compact headline below is
    // the final line of the process, whatever the capture window.
    org.apache.logging.log4j.core.config.Configurator
      .setLevel("org.apache.spark", org.apache.logging.log4j.Level.ERROR)
    spark.stop()
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"failed":${failed.size},"sf":"$sfDir"}""")
    if (failed.nonEmpty) {
      System.err.println(s"[bench] FAILED queries: ${failed.reverse.mkString(", ")}")
      sys.exit(1)
    }
  }
}
