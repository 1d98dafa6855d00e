package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** sf1.0 canary fixture generator (builder tooling, not library
  * surface): scales the driver's read-only sf0.1 fixture by an integer
  * factor so the full gate suite + bench can be rehearsed one decade up
  * (VERDICT r4 item 5) without violating the don't-regenerate-testdata
  * contract — the scaled copy lives under `target/` and is derived
  * row-for-row from the fixture itself.
  *
  * Scaling model (per replica `r` of `factor`):
  *   - dims `region`/`nation` stay fixed (real dims don't scale with
  *     fact volume);
  *   - every other table is replicated with its keys offset by
  *     `r * stride` where the stride clears the fixture's key space,
  *     so FK relationships hold within a replica and never collide
  *     across replicas — join fanouts scale linearly, as real growth
  *     does;
  *   - `events.ts` is left unchanged: growth means more traffic in the
  *     same time window (date-literal queries keep their selectivity),
  *     and `user_id` is offset so the distinct-key population scales;
  *   - `documents.text` gets a per-replica word salt (every word
  *     suffixed `_rN` for r > 0): in-replica similarity structure is
  *     preserved exactly while cross-replica shingle/token overlap
  *     drops to zero — without it each doc would acquire `factor - 1`
  *     verbatim twins and every near-dup family's OUTPUT would grow
  *     ~quadratically, an artifact of naive replication rather than a
  *     property of a 10x corpus;
  *   - `embeddings.embedding` is circularly shifted by `r` positions:
  *     a permutation keeps norms and in-replica geometry bit-exact
  *     while cross-replica cosine decorrelates, for the same reason.
  *
  * Usage: `sbt "runMain graft.CanaryGen [srcDir] [outDir] [factor]"`,
  * defaults `/root/testdata/sf0.1 target/canary/sf1.0 10`.
  */
object CanaryGen {

  /** Key strides per table column — beyond every fixture id space. */
  private val Stride = 1000000000L

  def replicate(df: DataFrame, factor: Int)(perReplica: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(r => perReplica(df, r)).reduce(_ unionAll _)

  def scaleAll(spark: SparkSession, srcDir: String, outDir: String, factor: Int): Unit = {
    def rd(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    def wr(df: DataFrame, t: String): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$t.parquet")
      println(s"[canary] $t: ${spark.read.parquet(s"$outDir/$t.parquet").count()} rows")
    }
    def off(c: String, r: Int) = col(c) + lit(r.toLong * Stride)

    wr(rd("region"), "region")
    wr(rd("nation"), "nation")
    wr(replicate(rd("customer"), factor) { (d, r) =>
      d.withColumn("c_custkey", off("c_custkey", r)) }, "customer")
    wr(replicate(rd("supplier"), factor) { (d, r) =>
      d.withColumn("s_suppkey", off("s_suppkey", r)) }, "supplier")
    wr(replicate(rd("part"), factor) { (d, r) =>
      d.withColumn("p_partkey", off("p_partkey", r)) }, "part")
    wr(replicate(rd("orders"), factor) { (d, r) =>
      d.withColumn("o_orderkey", off("o_orderkey", r))
        .withColumn("o_custkey", off("o_custkey", r)) }, "orders")
    wr(replicate(rd("lineitem"), factor) { (d, r) =>
      d.withColumn("l_orderkey", off("l_orderkey", r))
        .withColumn("l_partkey", off("l_partkey", r))
        .withColumn("l_suppkey", off("l_suppkey", r)) }, "lineitem")
    wr(replicate(rd("events"), factor) { (d, r) =>
      d.withColumn("event_id", off("event_id", r))
        .withColumn("user_id", off("user_id", r)) }, "events")
    wr(replicate(rd("documents"), factor) { (d, r) =>
      val salted = if (r == 0) col("text")
        else regexp_replace(col("text"), "(\\w+)", s"$$1_r$r")
      // one projection: every expression reads the unsalted input row
      d.withColumns(Map("doc_id" -> off("doc_id", r), "text" -> salted,
        "n_chars" -> length(salted).cast("long"))) }, "documents")
    wr(replicate(rd("embeddings"), factor) { (d, r) =>
      val e = col("embedding")
      val shifted = if (r == 0) e
        else concat(slice(e, r + 1, 10000), slice(e, 1, r))
      d.withColumn("vec_id", off("vec_id", r))
        .withColumn("embedding", shifted) }, "embeddings")
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("target/canary/sf1.0")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    scaleAll(spark, srcDir, outDir, factor)
    spark.stop()
  }
}
