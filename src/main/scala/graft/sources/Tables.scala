package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source surface of the engine.
  *
  * The reference reads its fact table three ways — Kafka stream
  * (`doc/temp.md:293-312`), JDBC snapshot (`doc/temp.md:446-453`,
  * `doc/Cumulative.java:37-44`), Hive ORC at rest
  * (`doc/temp.md:639-648`). In this zero-egress build the at-rest
  * format is parquet (driver fixtures, TESTDATA.md); Kafka/JDBC remain
  * available through the same `spark.read.format(...)` API and degrade
  * to files behind this facade.
  *
  * Scale notes (100 TB design):
  *  - Parquet scans split by row group automatically; filters and
  *    column projections push into the scan (verify via
  *    `.explain`: `PushedFilters`, `ReadSchema`).
  *  - No schema inference at read time for JSON/CSV paths — schemas
  *    are declared (one extra full scan at 100 TB is unacceptable).
  *  - Dimension tables (region/nation/supplier/part/customer) are
  *    small relative to facts; join sites broadcast them explicitly.
  */
object Tables {

  val starTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  val allTables: Seq[String] =
    starTables ++ Seq("events", "documents", "embeddings")

  /** Read one fixture table from `dir` (e.g. /root/testdata/sf0.01). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")

  /** `events.ts` normalized to a microsecond TIMESTAMP whatever the
    * at-rest parquet representation — fixture generations have
    * shipped it two ways:
    *  - TIMESTAMP(NANOS), which Spark cannot represent natively: read
    *    as epoch-nano LONG (`spark.sql.legacy.parquet.nanosAsLong`,
    *    set by [[graft.GraftSession]]) and truncate to micros.
    *    Truncation only ever moves an instant earlier by <1µs, so
    *    second-grain comparisons are unaffected.
    *  - tz-naive TIMESTAMP(MICROS) (isAdjustedToUTC=false): the
    *    engine session reads it as a plain TIMESTAMP instant
    *    ([[graft.GraftSession]] disables `inferTimestampNTZ`); a
    *    foreign session with NTZ inference on yields TIMESTAMP_NTZ,
    *    cast here to the instant type (wall clock taken as session
    *    tz = UTC — the same reading).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  private val registeredDir =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  /** Register every fixture table as a temp view so `spark.sql` text
    * queries resolve — the reference's `createOrReplaceTempView`
    * pattern (`doc/temp.md:456`, `doc/Cumulative.java:54`).
    *
    * Idempotent per (session, dir): re-resolving ten parquet sources
    * costs ~0.5 s of pure driver work per call, so repeat calls for
    * the same dir are no-ops. Registering a DIFFERENT dir replaces
    * the views. (If views are dropped externally, re-register by
    * calling with another dir first — not a path the engine takes.)
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    registeredDir.synchronized { // serialize: no half-registered reader
      if (registeredDir.get(spark) != dir) {
        allTables.foreach { n =>
          val df = if (n == "events") events(spark, dir) else table(spark, dir, n)
          df.createOrReplaceTempView(n)
        }
        // recorded only AFTER every view exists — a failed partial
        // registration is retried on the next call, not skipped
        registeredDir.put(spark, dir)
      }
    }
}
