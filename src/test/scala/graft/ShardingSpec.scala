package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Layout, Sampling, Sharding}
import graft.sources.Tables

/** Shard export, per-group quota capping, and file-level zonemap
  * skipping: round-trip fidelity, determinism, and prune-really-
  * prunes assertions the hash gate can't express.
  */
class ShardingSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.local("graft-sharding-test")
  val dir = "/root/testdata/sf0.001"

  test("shard export round-trip preserves every row exactly") {
    val tmp = tempDir("graft_test_shards").toString
    val docs = Tables.documents(spark, dir)
    Sharding.exportShards(docs, tmp, keyCol = "doc_id")
    val back = spark.read.parquet(tmp).drop("shard")
    assert(back.count() === docs.count())
    assert(docs.except(back).count() === 0)
    assert(back.except(docs).count() === 0)
  }

  test("shard assignment is deterministic and manifest matches direct compute") {
    val tmp = tempDir("graft_test_shards2").toString
    val docs = Tables.documents(spark, dir)
    Sharding.exportShards(docs, tmp, keyCol = "doc_id")
    val fromDisk = Sharding.manifest(spark.read.parquet(tmp), "text")
    val direct = Sharding.manifest(
      docs.withColumn("shard", Sharding.shardKey(col("doc_id"), 1)), "text")
    assert(fromDisk.except(direct).count() === 0)
    assert(direct.except(fromDisk).count() === 0)
    // every row keyed to the same shard on re-evaluation
    val n = docs.withColumn("s1", Sharding.shardKey(col("doc_id"), 1))
      .withColumn("s2", Sharding.shardKey(col("doc_id"), 1))
      .filter(col("s1") =!= col("s2")).count()
    assert(n === 0)
  }

  test("capPerGroup: quota respected, subset of input, reruns identical") {
    val docs = Tables.documents(spark, dir)
    val capped = Sampling.capPerGroup(docs, "source", "doc_id",
      md5(col("text")), n = 5)
    val sizes = capped.groupBy("source").agg(count(lit(1)).as("n")).collect()
    assert(sizes.forall(_.getLong(1) <= 5L))
    assert(capped.except(docs).count() === 0, "capped rows come from the input")
    val again = Sampling.capPerGroup(docs, "source", "doc_id",
      md5(col("text")), n = 5)
    assert(capped.except(again).count() === 0)
    assert(again.except(capped).count() === 0)
    // groups with >= 5 rows are capped to exactly 5
    val groupTotals = docs.groupBy("source").agg(count(lit(1)).as("total"))
    val joined = sizes.map(r => r.getString(0) -> r.getLong(1)).toMap
    groupTotals.collect().foreach { r =>
      val expected = math.min(5L, r.getLong(1))
      assert(joined(r.getString(0)) === expected)
    }
  }

  test("split assignment: disjoint, exhaustive, nested with hashSample") {
    val docs = Tables.documents(spark, dir)
    val split = Sampling.splitAssign(docs, "doc_id")
    assert(split.count() === docs.count(), "every row gets a split")
    assert(split.groupBy("doc_id").agg(countDistinct(col("split")).as("k"))
      .filter(col("k") =!= 1).count() === 0, "exactly one split per key")
    // the train split IS the rate-0.8 hash sample (same bucket, same
    // seed): split carving and sampling compose coherently
    val train = split.filter(col("split") === "train").select("doc_id")
    val sampled = Sampling.hashSample(docs, "doc_id", 0.8).select("doc_id")
    assert(train.except(sampled).count() === 0)
    assert(sampled.except(train).count() === 0)
  }

  test("CDC diff: self-diff empty; diff-then-apply reconstructs next") {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    assert(Layout.snapshotDiff(cust, cust, "c_custkey",
      Seq("c_mktsegment", "c_acctbal")).count() === 0,
      "identical snapshots must emit no change rows")
    val next = cust.filter(col("c_custkey") % 4 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 10.0)
      .unionByName(cust.filter(col("c_custkey") % 4 > 1))
    val diff = Layout.snapshotDiff(cust, next, "c_custkey",
      Seq("c_mktsegment", "c_acctbal"))
    // apply the recovered delta back onto prev: upserts then deletes
    val upserts = diff.filter(col("change_type") =!= "delete")
      .select(col("c_custkey"), col("c_mktsegment_new").as("c_mktsegment"),
        col("c_acctbal_new").as("c_acctbal"))
    val deletes = diff.filter(col("change_type") === "delete")
      .select(col("c_custkey"))
    val reconstructed = Layout.mergeByKey(cust, upserts, "c_custkey")
      .join(deletes, Seq("c_custkey"), "left_anti")
    assert(reconstructed.except(next).count() === 0)
    assert(next.except(reconstructed).count() === 0)
  }

  test("zonemap pruning reads a strict subset of files, result unchanged") {
    val tmp = tempDir("graft_test_zonemap").toString
    val docs = Tables.documents(spark, dir)
    docs.repartitionByRange(8, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").parquet(tmp)
    val manifest = spark.read.parquet(tmp)
      .groupBy(input_file_name().as("file"))
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val total = manifest.count()
    val hit = manifest.filter(col("hi") >= 10L && col("lo") <= 29L)
      .select("file").collect().map(_.getString(0))
    assert(hit.nonEmpty && hit.length < total,
      s"zonemap must prune: ${hit.length} of $total files")
    val pruned = spark.read.parquet(hit.toIndexedSeq: _*)
      .filter(col("doc_id").between(10L, 29L))
    val direct = docs.filter(col("doc_id").between(10L, 29L))
    assert(pruned.except(direct).count() === 0)
    assert(direct.except(pruned).count() === 0)
  }
}
