package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev aid (same rule as Bench, [[SparkEntry.gateSelector]]):
    // SPARK_GRAFT_ONLY=a,b restricts the dump AND the emitted
    // oracle_sql.json to matching queries for single-query iteration.
    val selected = SparkEntry.gateSelector(sys.env.get("SPARK_GRAFT_ONLY"))
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Aux inputs for oracles that re-run approximate operators'
    // candidate/verify stages independently in DuckDB (minhash bands,
    // LSH buckets, IVF assignments, PQ codes, generated orders).
    // All live under a DOT-prefixED dir: hidden from `*`-globs and
    // from any recursive read of a query's own output dir (round 2
    // nested one inside gen_orders_rollup/ and the gate's recursive
    // read counted the 100k aux rows as query output). Oracles
    // reference them via the __OUTDIR__ placeholder.
    // When filtering, also dump every aux frame the SELECTED oracles
    // reference (aux names differ from query names — e.g. sample_hash
    // reads .aux/sample_buckets), else the emitted oracle_sql.json
    // points DuckDB at never-written paths.
    val auxNeeded: Set[String] = SparkEntry.oracleSql
      .filter(kv => selected(kv._1)).values
      .flatMap("""\.aux/([A-Za-z0-9_]+)""".r.findAllMatchIn(_).map(_.group(1)))
      .toSet
    SparkEntry.aux.filter(kv => selected(kv._1) || auxNeeded(kv._1))
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/.aux/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] aux $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__OUTDIR__", outDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Same output-ordering discipline as Bench (BENCH_r13 defect):
    // releaseAll's per-RDD "locally checkpointed" WARNs are expected
    // teardown noise and would scroll any earlier "[verify] X failed"
    // line out of a captured tail — silence them, scoped.
    // restore the logger's PRIOR explicit config, not its effective
    // level (ADVICE r14/r15 — see [[LogQuiet]])
    LogQuiet.withLevel("org.apache.spark.rdd",
        org.apache.logging.log4j.Level.ERROR) {
      graft.ext.CorpusCache.releaseAll() // run boundary: drop corpus caches
    }
    spark.stop()
  }
}
