package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session defaults.
  *
  * These mirror what a production 100 TB deployment would set
  * cluster-wide; locally the parallelism knobs come from the env.
  *  - AQE on: runtime shuffle-partition coalescing + skew-join
  *    splitting (replaces hand-tuned partition counts at scale).
  *  - `spark.sql.shuffle.partitions` sized to the machine, not the
  *    Spark default 200 (local[32] → 32).
  *  - Session timezone pinned UTC — every time-keyed query formats
  *    wall time explicitly, so results are environment-independent.
  *  - `parquet.nanosAsLong`: a TIMESTAMP(NANOS) source column (one
  *    fixture generation shipped `events.ts` that way) has no native
  *    Spark type; read it as epoch-nanos LONG and convert to a
  *    microsecond TIMESTAMP in [[graft.sources.Tables.events]].
  *  - `parquet.inferTimestampNTZ` OFF: tz-naive parquet timestamps
  *    (isAdjustedToUTC=false — what pandas/pyarrow write by default,
  *    and the current fixture generation) read as plain TIMESTAMP
  *    epoch-micros instants, not TIMESTAMP_NTZ. With the session tz
  *    pinned UTC the wall-clock view is identical, every downstream
  *    `unix_micros`/cast/JDBC surface keeps its TIMESTAMP contract,
  *    and the DuckDB oracle (which reads the same column as a naive
  *    timestamp) agrees byte-for-byte.
  *  - `file:` is [[graft.sources.ForkFreeLocalFileSystem]] (and
  *    [[graft.sources.ForkFreeLocalFs]] for `FileContext`): without
  *    native `libhadoop` the stock local filesystem starts a `chmod` or
  *    `readlink` process for every checkpoint file it creates or
  *    renames. Files, CRC sidecars, checkpoint checksum files, atomic
  *    renames and permission bits stay identical; only the system call
  *    behind them changes.
  *  - Artifact isolation off (`spark.sql.artifact.isolation.enabled`;
  *    Spark defaults it on, `spark-shell` turns it off). With it on,
  *    every session UUID gets its own executor class loader, and Spark
  *    caches compiled generated code per class loader: each streaming
  *    query (which clones its session) and each `newSession()`
  *    recompiled identical code on every run. The engine adds no
  *    session artifacts; the library sits on the application classpath.
  *    Isolation is needed back only for session-scoped
  *    `addArtifact`/`addJar`.
  */
object GraftSession {

  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder = b
    .withExtensions(new graft.plans.GraftExtensions)
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.warehouse.dir",
      sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "/tmp/graft_warehouse"))
    .config("spark.ui.enabled", "false")
    .config("spark.sql.artifact.isolation.enabled", "false")
    .config("spark.hadoop.fs.file.impl",
      classOf[graft.sources.ForkFreeLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[graft.sources.ForkFreeLocalFs].getName)

  /** Local session with the engine defaults applied.
    *
    * Master is `local[n, 2]` — 2 task attempts, where plain `local[n]`
    * pins maxFailures=1. A cluster's default is 4 attempts and task
    * retry is routine at 100 TB; the retry-tolerant scheduler lets
    * RetryDeterminismSpec inject a transient task failure and assert
    * the selection operators re-execute bit-identically. Suites share
    * one JVM/SparkContext, so the knob lives here, not per-spec.
    */
  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(2, Runtime.getRuntime.availableProcessors()).toString)
    val spark = configure(
      SparkSession.builder().appName(appName).master(s"local[$cpus, 2]"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Scratch directories for gates that exercise a write-then-read path
  * (file-format round-trips, shard export, zone-map pruning, stream
  * fan-out). Paths carry BOTH the fixture hash (distinct fixtures
  * never collide) AND a per-process token: two concurrent runs over
  * the same fixture previously raced on overwrite/read of a shared
  * temp tree. Within one JVM the path is stable, so repeated bench
  * passes reuse (and `overwrite` replaces) the same data — and a
  * best-effort shutdown hook removes everything this run created.
  */
object RunScratch {
  val token: String = s"p${ProcessHandle.current().pid()}"

  private val created = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def dir(name: String, fixtureDir: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_${name}_${
      math.abs(fixtureDir.hashCode.toLong)}_$token"
    created.add(p)
    p
  }

  /** Delete `root` and everything under it through NIO, in this
    * process (no `rm` child process); a missing root is a no-op.
    */
  def deleteTree(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) {
      val paths = java.nio.file.Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally paths.close()
    }

  sys.addShutdownHook {
    created.forEach { p =>
      try deleteTree(java.nio.file.Paths.get(p))
      catch { case _: Throwable => () } // best-effort
    }
  }
}
