package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.BloomFilter

/** Bloom-prefiltered joins — shrink the LARGE side of a semi/anti
  * join before its shuffle, with exactness restored by the join
  * itself (semi) or guaranteed by the filter's no-false-negative
  * property (anti).
  *
  * Why not just join: at 100 TB a left-semi join shuffles every large-
  * side row on the key even though only a few percent survive. The
  * bloom bitmap eliminates non-matching rows inside the scan's
  * codegen stage, so the shuffle carries ~(selectivity + fp_rate) of
  * the input instead of all of it.
  *
  * WHEN IT PAYS (measured, BASELINE.md "Scale rehearsal"): the
  * prefilter trades one-to-two extra narrow passes + a bitmap build
  * against the avoided shuffle bytes. On a single node, shuffling
  * 20M narrow lz4-compressed rows costs about one probe pass — the
  * PLAIN join wins every local shape (and when the small side fits
  * the broadcast threshold, the plain join never shuffles at all).
  * Use this operator when the shuffle is network-bound and the rows
  * are wide/incompressible, when the small side exceeds the
  * broadcast threshold by far, or when the key is a derived
  * expression (fingerprints) that Spark's own AQE runtime filter —
  * which covers the plain equi-join case automatically — cannot see.
  *
  * The bitmap is built DISTRIBUTED (partial bitmaps OR-merged), then
  * the single final bitmap (numBits/8 bytes — 32 KB at the default
  * size) is materialized on the driver and injected into the probe
  * side as a LITERAL array. That is deliberate, and it is what
  * Spark's own AQE runtime bloom filter does with its subquery
  * result: a literal probe is a plain `Filter` directly above the
  * scan, so its position is guaranteed. The first implementation
  * instead cross-joined a broadcast 1-row bitmap frame — Catalyst
  * floated that cross join ABOVE the semi join, running the
  * expensive join first and the "prefilter" after it (visible in the
  * physical plan as BroadcastNestedLoopJoin over the join output).
  * Collecting one fixed-size bitmap row is NOT a driver-side data
  * loop: the driver never sees keys, only the OR of the partials.
  *
  * Semi: prefilter keeps maybe-members, the real semi join then
  * removes bloom false positives → result ≡ plain semi join.
  * Anti: rows the bloom rejects are DEFINITELY absent from the small
  * side (no false negatives) → emit directly, no join; only maybe-
  * members go through the exact anti join → result ≡ plain anti join.
  */
object BloomJoin {

  val DefaultBits = 1 << 18 // 32 KB bitmap — ~24 bits/key at 10k keys
  val DefaultHashes = 5

  /** Distributed build, then the one-row bitmap as a literal Column.
    * Forces the build job eagerly (one aggregation over `small`).
    */
  def bitmapLiteral(small: DataFrame, smallKey: Column,
      numBits: Int = DefaultBits, numHashes: Int = DefaultHashes): Column = {
    val row = BloomFilter.build(small, Seq(smallKey), numBits, numHashes)
      .collect()(0)
    typedlit[Seq[Long]](row.getAs[scala.collection.Seq[Long]]("bloom").toSeq)
  }

  /** `large` rows whose `largeKey` appears in `small.smallKey`
    * (left-semi), bloom-prefiltered. Column sets of `large` pass
    * through unchanged.
    */
  def semiJoin(large: DataFrame, largeKey: Column, small: DataFrame,
      smallKey: Column, numBits: Int = DefaultBits,
      numHashes: Int = DefaultHashes): DataFrame = {
    val bloom = bitmapLiteral(small, smallKey, numBits, numHashes)
    val keys = small.select(smallKey.as("__k")).distinct()
    large
      .filter(BloomFilter.mightContain(bloom, Seq(largeKey), numBits, numHashes))
      .join(keys, largeKey === col("__k"), "left_semi")
  }

  /** `large` rows whose `largeKey` does NOT appear in
    * `small.smallKey` (left-anti), bloom-accelerated: definite
    * non-members skip the join entirely. The large side is read
    * twice (both passes narrow scan+filter); persist upstream if the
    * scan dominates.
    */
  def antiJoin(large: DataFrame, largeKey: Column, small: DataFrame,
      smallKey: Column, numBits: Int = DefaultBits,
      numHashes: Int = DefaultHashes): DataFrame = {
    val bloom = bitmapLiteral(small, smallKey, numBits, numHashes)
    val keys = small.select(smallKey.as("__k")).distinct()
    val maybe = BloomFilter.mightContain(bloom, Seq(largeKey), numBits, numHashes)
    val certainNew = large.filter(!maybe)
    val checked = large.filter(maybe)
      .join(keys, largeKey === col("__k"), "left_anti")
    certainNew.unionByName(checked)
  }
}
