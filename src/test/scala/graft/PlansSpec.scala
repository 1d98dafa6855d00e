package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.EventQueries
import graft.sources.Tables

/** Catalyst extension: the nanos-filter pushdown rule must (a) not
  * change results, (b) land a raw-nanos bound in the parquet scan's
  * PushedFilters.
  */
class PlansSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.local("graft-plans-test")
  val dir = "/root/testdata/sf0.001"

  /** A nanos-SOURCED events frame: the current driver fixture ships
    * `ts` as tz-naive TIMESTAMP(MICROS) (read natively — Catalyst
    * pushes its filters unaided), but the engine still supports
    * TIMESTAMP(NANOS) sources, which arrive as epoch-nanos LONGs and
    * get the `timestamp_micros(ts div 1000)` conversion in
    * [[Tables.events]]. Spark cannot WRITE parquet nanos, so the
    * fixture here materializes the post-read shape directly: a LONG
    * `ts` parquet column + the same conversion expression — byte-
    * identical to what a nanos source produces, which is exactly the
    * plan shape [[graft.plans.NanosFilterPushdown]] rewrites.
    */
  lazy val nanosEvents: org.apache.spark.sql.DataFrame = {
    val path = RunScratch.dir("nanos_fixture", dir)
    Tables.events(spark, dir)
      .select(col("event_id"),
        (unix_micros(col("ts")) * 1000L).as("ts"), col("user_id"),
        col("value"))
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
  }

  test("nanos filter pushdown: raw ts bound reaches the parquet scan") {
    val q = nanosEvents
      .filter(col("ts") >= to_timestamp(lit("2024-01-30 00:00:00")))
      .select(col("event_id"))
    val plan = q.queryExecution.executedPlan.toString
    // 2024-01-30T00:00:00Z = 1706572800 s; sign-safe bound is
    // n > (C−1 µs)·1000 (valid for trunc-toward-zero division)
    assert(plan.contains("GreaterThan(ts,1706572799999999000)"),
      s"raw nanos bound not pushed:\n$plan")
    // and the rewrite preserves the result set exactly
    val viaLong = q.collect().map(_.getLong(0)).sorted
    val native = Tables.events(spark, dir)
      .filter(col("ts") >= to_timestamp(lit("2024-01-30 00:00:00")))
      .select(col("event_id")).collect().map(_.getLong(0)).sorted
    assert(viaLong.sameElements(native), "nanos-sourced path diverged from native")
  }

  test("pushdown rule preserves q6 results exactly") {
    // run the same query with extensions on (GraftSession) vs a rule-free
    // re-expression: compare row sets
    val q6 = EventQueries.q6TrailingRollup(spark, dir).collect()
    def q6Shape(ev: org.apache.spark.sql.DataFrame) = ev
      .filter(col("ts") >= to_timestamp(lit("2024-01-30 00:00:00")))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("dt"), col("user_id"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("amt"))
      .groupBy(col("dt"))
      .agg(count(col("user_id")).as("uv"), sum(col("cnt")).as("buy_cnt"),
        round(sum(col("amt")), 2).as("amount"))
      .orderBy(col("dt").desc)
      .collect()
    assert(q6.toSeq === q6Shape(Tables.events(spark, dir)).toSeq)
    // and the SAME rollup over the nanos-sourced frame: with the
    // fixture now tz-naive micros, only this leg actually executes the
    // NanosFilterPushdown rewrite end-to-end through an aggregate (the
    // native leg above plans timestamp filters unaided)
    val viaNanos = q6Shape(nanosEvents)
    assert(q6.toSeq === viaNanos.toSeq,
      "q6 rollup diverged on the rewritten long-column scan")
  }

  test("equality comparison expands to a half-open nanos range") {
    val q = nanosEvents
      .filter(col("ts") === to_timestamp(lit("2024-01-15 12:00:00")))
      .select(col("event_id"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(ts,") && plan.contains("LessThan(ts,"),
      s"equality not expanded to range:\n$plan")
  }

  test("literal-on-left comparison shapes also reach PushedFilters") {
    // lit >= ts is the mirror of ts <= lit: both must land a raw
    // nanos upper bound in the scan
    val q = nanosEvents
      .filter(to_timestamp(lit("2024-01-15 00:00:00")) >= col("ts"))
      .select(col("event_id"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LessThan(ts,"), s"mirror shape not pushed:\n$plan")
  }

  test("string prefix and IN filters reach the parquet scan") {
    val docs = Tables.documents(spark, dir)
    val prefix = docs.filter(col("source").startsWith("src1"))
      .select(col("doc_id")).queryExecution.executedPlan.toString
    assert(prefix.contains("StringStartsWith(source,src1)"),
      s"prefix filter not pushed:\n$prefix")
    val in = docs.filter(col("lang").isin("en", "zh"))
      .select(col("doc_id")).queryExecution.executedPlan.toString
    assert(in.contains("In(lang, [en,zh])") || in.contains("In(lang,"),
      s"IN filter not pushed:\n$in")
  }

  test("far-future timestamp literal: no overflowed bound, no rows lost") {
    // (us+1)·1000 for 9999-12-31 wraps Long negative; the rule must
    // SKIP the rewrite (the literal implies no useful bound), not emit
    // a wrapped conjunct that filters out every row
    val ev = nanosEvents
    val all = ev.count()
    val q = ev.filter(col("ts") <= to_timestamp(lit("9999-12-31 00:00:00")))
    assert(q.count() === all, "sentinel upper bound dropped rows")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("LessThan(ts,-"), s"wrapped negative bound pushed:\n$plan")
  }

  test("cosine near-dup plan is an equi-join on cluster keys, not an all-pairs join") {
    val emb = Tables.embeddings(spark, dir)
    val plan = graft.ext.Similarity.cosineNearDupPairs(emb, 0.4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"all-pairs join in the scale path:\n$plan")
    // the brute-force oracle twin, by contrast, IS the nested loop
    val brute = graft.ext.Similarity.thresholdJoin(emb, 0.4)
      .queryExecution.executedPlan.toString
    assert(brute.contains("BroadcastNestedLoopJoin"),
      "expected the brute twin to be the nested-loop baseline")
  }

  test("sub-blocked jaccard plan joins on sub-block pair keys, not a cross product") {
    val docs = Tables.documents(spark, dir)
    val plan = graft.ext.Dedup.jaccardPairsBySource(docs, 0.6, targetSubBlock = 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"cross product in blocked jaccard:\n$plan")
    // join keys carry the (source, p, q) triple
    assert(plan.contains("p#") && plan.contains("q#"),
      s"sub-block keys missing from the join:\n$plan")
  }

  test("domain filter join-back is a merge join, never a broadcast of " +
      "the corpus-derived verdict table") {
    // the domain verdict table is millions of rows at web scale and
    // its lineage defeats size estimation (quality projection) — the
    // text_line_dedup hazard class PlanAudit caught in round 6. The
    // merge hint is the pin; this test keeps it pinned.
    val docs = Tables.documents(spark, dir)
    val plan = graft.ext.Curation.domainFilter(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"expected the merge-hinted source join-back:\n$plan")
    // exactly one broadcast is allowed: the doc-keyed quality join's
    // 2-column statistics-estimated build (degrades to SMJ at scale);
    // the source-keyed join-back must not add another
    assert(plan.split("BroadcastHashJoin").length - 1 <= 1,
      s"unexpected extra broadcast in the domain filter plan:\n$plan")
  }

  test("unigram encode join-back is a merge join; the vocab probe is the " +
      "only broadcast class") {
    // the per-word optimum table is vocabulary-sized but DATA-DERIVED
    // (no cap contract) and its lineage crosses an explode + DP fold —
    // size estimates are garbage, so without the hint Spark would
    // happily broadcast a web-scale dictionary. The vocab probe joins
    // (≤ cap + alphabet BY CONTRACT) are the only broadcasts allowed.
    val docs = Tables.documents(spark, dir)
    val plan = graft.ext.CorpusPrep.unigramEncodeStats(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"expected the merge-hinted token-stream join-back:\n$plan")
    assert(plan.split("BroadcastHashJoin").length - 1 <= 2,
      s"unexpected extra broadcast in the encode plan:\n$plan")
  }

  test("minhash recall truth derivation is a posting equi-join, " +
      "never an all-pairs join") {
    val docs = Tables.documents(spark, dir)
    val plan = graft.ext.Dedup.minhashRecall(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"all-pairs join in the recall truth path:\n$plan")
  }

  test("capped co-activity selection is a partial-aggregate, not a window sort") {
    val act = Tables.events(spark, dir)
      .select(date_trunc("minute", col("ts")).as("m"), col("user_id"))
      .distinct()
    val plan = graft.ext.GraphOps.cappedActivity(act, maxUsersPerMinute = 2)
      .queryExecution.executedPlan.toString
    // the whole point of the aggregate form: a hot minute's users are
    // pre-capped map-side (partial_topk before the minute exchange),
    // never globally sorted on one task per minute
    assert(plan.contains("partial_topk"),
      s"no map-side partial top-k in the capped selection:\n$plan")
    assert(!plan.contains("Window"),
      s"window (per-minute single-task sort) in the capped selection:\n$plan")
  }

  test("quality-weighted sample is a zero-shuffle narrow plan") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = graft.ext.Sampling
      .qualityWeightedSample(Tables.documents(spark, dir))
      .queryExecution.executedPlan
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty,
      s"selection must stay inside the scan stage:\n$plan")
  }

  test("key-skew profile: map-side-combined count, no all-rows funnel") {
    val plan = graft.ext.DataQuality
      .keySkewProfile(Tables.events(spark, dir), "user_id")
      .queryExecution.executedPlan.toString
    // per-key counts partial-aggregate before the key exchange, so the
    // shuffle carries one row per (partition, key), not per input row
    assert(plan.contains("partial_count"),
      s"no map-side combine in the count stage:\n$plan")
    assert(!plan.contains("Window"),
      s"unexpected window (single-task sort) in the profile:\n$plan")
  }

  test("semantic dedup keeps the equi-join shape end-to-end") {
    val plan = graft.ext.Similarity
      .semanticDedup(Tables.embeddings(spark, dir), 0.4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"all-pairs join in the semantic dedup composition:\n$plan")
  }

  test("pair joins never broadcast an exploded corpus side") {
    // The round-4 ladder discovery, pinned against regression:
    // explode-derived lineage defeats size estimation, and an
    // unhinted planner broadcast the ENTIRE duplicated corpus side
    // of the pair joins (super-quadratic locally, OOM at scale).
    // Contract: in these operators' physical plans, no broadcast
    // build side may contain a Generate (the explode that multiplies
    // the corpus) — broadcasts must stay census/probe-sized frames.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def brokenBroadcasts(p: SparkPlan): Seq[String] =
      p.collect { case j: BroadcastHashJoinExec =>
        val build = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        }
        // unit pins (explode(array(x)), 1:1) are not explosions —
        // same predicate the PlanAudit main uses
        val hasGenerate = build.collect {
          case g: org.apache.spark.sql.execution.GenerateExec
              if !graft.PlanAudit.isUnitPin(g) => g }.nonEmpty
        if (hasGenerate) Seq(j.simpleStringWithNodeId()) else Seq.empty
      }.flatten
    // AQE's executedPlan root (AdaptiveSparkPlanExec) hides the join
    // tree from collect() — the STATIC planner makes the hazardous
    // choice, so assert on the static plan (AQE respects join hints
    // and cannot reintroduce it at runtime)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = Tables.documents(spark, dir)
      val emb = Tables.embeddings(spark, dir)
      val cases: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
        "jaccardPairsBySource" ->
          graft.ext.Dedup.jaccardPairsBySource(docs, 0.6, targetSubBlock = 16),
        "ngramJaccardPairs" -> graft.ext.Dedup.ngramJaccardPairs(docs, 0.4),
        "simhashPairs" -> graft.ext.Dedup.simhashPairs(docs),
        "containmentPairs" -> graft.ext.Dedup.containmentPairs(docs),
        "cosineNearDupPairs" -> graft.ext.Similarity.cosineNearDupPairs(emb, 0.4),
        "coActivityEdges" -> graft.ext.GraphOps.coActivityEdges(spark, dir),
        "minhashPairs" -> graft.ext.Dedup.minhashPairs(docs),
        "mediaNearDupPairs" -> graft.ext.Multimodal.mediaNearDupPairs(
          graft.ext.Multimodal.nearDupFixture(spark, dir)),
        "topTerms" -> graft.ext.TextAnalysis.topTerms(docs),
        "rangeJoin" -> graft.queries.ExtraQueries.queries("range_join_spikes")(spark, dir))
      for ((name, df) <- cases) {
        val plan = df.queryExecution.executedPlan
        // guard against the guard: the walk must actually SEE joins
        assert(plan.collect { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.nonEmpty,
          s"$name: plan walk found no joins — traversal is broken:\n$plan")
        val bad = brokenBroadcasts(plan)
        assert(bad.isEmpty,
          s"$name broadcasts an exploded corpus side:\n${bad.mkString("\n")}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("nfc_normalize: decomposed input composes, NFC input returned untouched") {
    import spark.implicits._
    import graft.functions.NfcNormalize.nfc_normalize
    // e + COMBINING ACUTE (decomposed) -> precomposed U+00E9;
    // s + dot-below + dot-above -> U+1E69 (multi-mark composition)
    val rows = Seq("éclair", "café", "ṩ", "中文 abc")
      .toDF("s")
      .select(col("s"), nfc_normalize(col("s")).as("n"),
        (nfc_normalize(col("s")) =!= col("s")).cast("int").as("chg"))
      .collect()
    assert(rows(0).getString(1) === "éclair" && rows(0).getInt(2) === 1)
    assert(rows(1).getString(1) === "café" && rows(1).getInt(2) === 0)
    assert(rows(2).getString(1) === "ṩ" && rows(2).getInt(2) === 1)
    assert(rows(3).getString(1) === "中文 abc" && rows(3).getInt(2) === 0)
    // SQL-text entry point through the extension registration
    val viaSql = spark.sql("SELECT nfc_normalize('é') AS n")
      .head().getString(0)
    assert(viaSql === "é")
    // null propagates
    assert(Seq(Option.empty[String]).toDF("s")
      .select(nfc_normalize(col("s"))).head().isNullAt(0))
  }

  test("injected SQL functions carry proper identity and usage in the catalog") {
    val desc = spark.sql("DESCRIBE FUNCTION EXTENDED simhash64")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("Function: simhash64"),
      s"function name corrupted in catalog:\n$desc")
    assert(desc.contains("64-bit SimHash"), s"usage missing:\n$desc")
    // and it evaluates through SQL text
    val sig = spark.sql("SELECT simhash64(array('a','b')) AS s").collect()(0).getLong(0)
    val sig2 = spark.sql("SELECT simhash64(array('a','b')) AS s").collect()(0).getLong(0)
    assert(sig === sig2)
  }

  test("bucketed range join is an equi-join on time buckets, not a nested loop") {
    val plan = graft.queries.ExtraQueries.spikeWindowStats(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join planned as a nested loop:\n$plan")
    assert(plan.contains("__b"), s"bucket key missing from the join:\n$plan")
  }

  test("overlap join: bucketed equi-join, exactly-once pairs vs brute-force truth") {
    import spark.implicits._
    // intervals engineered to span MULTIPLE 10-unit buckets so the
    // canonical-bucket filter is load-bearing: without it, (1,10)
    // would surface 3 times
    val a = Seq((1L, 0L, 25L), (2L, 40L, 45L), (3L, 90L, 130L))
      .toDF("a_id", "a_s", "a_e")
    val b = Seq((10L, 5L, 50L), (20L, 47L, 49L), (30L, 200L, 210L))
      .toDF("b_id", "b_s", "b_e")
    val got = graft.ops.RangeJoin.overlapByTime(a, "a_s", "a_e",
        b, "b_s", "b_e", bucketSize = 10L)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    // brute truth: 1x10 (0-25 vs 5-50), 2x10 (40-45 vs 5-50) — NOT
    // 2x20 (40-45 vs 47-49), NOT 3x anything
    assert(got.toSeq === Seq((1L, 10L), (2L, 10L)))
    // plan: equi-join on the bucket key, no nested loop
    val plan = graft.ops.RangeJoin.overlapByTime(a, "a_s", "a_e",
        b, "b_s", "b_e", bucketSize = 10L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"overlap join planned as a nested loop:\n$plan")
    // fixture-scale exactly-once property: the gate derivation equals
    // a brute inequality join recomputed driver-side
    val s = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .groupBy(col("user_id"), floor(col("us") / lit(3600000000L)).as("hr"))
      .agg(min(col("us")).as("s_start"), max(col("us")).as("s_end"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val mon = s.filter(_._1 % 13 == 0)
    val brute = (for {
      (mu, ms, me) <- mon; (ou, os, oe) <- s
      if ou != mu && ms <= oe && os <= me
    } yield ((mu, ms), 1)).groupBy(_._1).view.mapValues(_.size).toMap
    val gate = graft.queries.ExtraQueries.overlapSessions(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(gate === brute.map { case (k, v) => k -> v.toLong })
  }

  test("EM exclusion DP: the (word, exc) map join shuffles, nothing goes cartesian") {
    val plan = graft.ext.CorpusPrep.unigramEmLoss(
        Tables.documents(spark, dir))
      .queryExecution.executedPlan.toString
    // the per-(word, excluded-piece) probe map is dict-derived on
    // BOTH sides — it must meet by shuffle (SMJ/shuffled-hash), never
    // by an estimate-blind broadcast of exploded lineage, and no
    // stage may degenerate to a cartesian product
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"),
      s"the exclusion map join lost its shuffle:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product in the EM loss plan:\n$plan")
  }

  test("soft-EM lattice: the probe join-back shuffles, nothing goes cartesian") {
    val plan = graft.ext.CorpusPrep.unigramSoftCounts(
        Tables.documents(spark, dir))
      .queryExecution.executedPlan.toString
    // the (word)-keyed probes↔fold join is dict-derived on both sides
    // — it must meet by shuffle (the EM exclusion join's discipline),
    // and no stage may degenerate to a cartesian product; the only
    // broadcasts are the sanctioned capped-vocab probes
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"),
      s"the soft-marginal join-back lost its shuffle:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product in the soft-EM plan:\n$plan")
  }

  test("range/overlap join buckets exactly above 2^53 (floorDiv, not double division)") {
    import spark.implicits._
    // Adversarial bounds: M is a bucket boundary (multiple of 600)
    // near 2^60 that is ALSO a multiple of 128 — the double-mantissa
    // granularity at that magnitude — so M-1 rounds UP to M as a
    // double and the old cast-to-double path mis-buckets it into the
    // next bucket (losing the match below). floorDiv bucketing is
    // exact at any Long magnitude.
    val M = (1L << 60) / 9600L * 9600L // multiple of lcm(600,128)
    assert((M - 1).toDouble === M.toDouble) // the trap is live
    val rows = Seq((1L, M - 1L), (2L, M), (3L, M - 600L))
      .toDF("row_id", "ts")
    val iv = Seq((10L, M - 600L, M - 1L), (20L, M, M + 599L))
      .toDF("iv_id", "iv_s", "iv_e")
    val got = graft.ops.RangeJoin.byTime(rows, "ts", iv, "iv_s", "iv_e",
        bucketSeconds = 600L)
      .select(col("row_id"), col("iv_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // brute truth: ts M-1 and M-600 fall in [M-600, M-1]; ts M in [M, M+599]
    assert(got === Seq((1L, 10L), (2L, 20L), (3L, 10L)))
    // overlap form at the same magnitude: [M-600, M-1] overlaps
    // [M-1, M+10] only at the boundary point M-1 — the canonical
    // bucket is bucket(M-1), which the double path would misplace
    val a = Seq((1L, M - 600L, M - 1L)).toDF("a_id", "a_s", "a_e")
    val b = Seq((10L, M - 1L, M + 10L), (20L, M, M + 10L))
      .toDF("b_id", "b_s", "b_e")
    val ov = graft.ops.RangeJoin.overlapByTime(a, "a_s", "a_e",
        b, "b_s", "b_e", bucketSize = 600L)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(ov === Seq((1L, 10L)))
  }

  test("overlap join: mixed int/long/double bound dtypes bucket per-side, pairs exactly once") {
    import spark.implicits._
    // left bounds INT, right bounds LONG — the r9 advisory mix: the
    // canonical-bucket filter must derive each side's bucket from its
    // OWN dtype (max of the per-side bucket ids; bucketOf is monotone
    // so max∘bucket ≡ bucket∘max), never from one side's dtype applied
    // to the type-coerced greatest()
    val a = Seq((1, 0, 25), (2, 40, 45), (3, 90, 130))
      .toDF("a_id", "a_s", "a_e")
    val b = Seq((10L, 5L, 50L), (20L, 47L, 49L), (30L, 200L, 210L))
      .toDF("b_id", "b_s", "b_e")
    val got = graft.ops.RangeJoin.overlapByTime(a, "a_s", "a_e",
        b, "b_s", "b_e", bucketSize = 10L)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    assert(got === Seq((1, 10L), (2, 10L)))
    // fractional left vs long right: doubles floor BEFORE bucketing,
    // so 49.9 buckets with 49 — overlap [45.5, 49.9]×[49, 60] meets in
    // bucket(49) on both sides and surfaces exactly once
    val af = Seq((1, 45.5, 49.9), (2, 0.1, 3.9)).toDF("f_id", "f_s", "f_e")
    val bl = Seq((10L, 49L, 60L)).toDF("g_id", "g_s", "g_e")
    val got2 = graft.ops.RangeJoin.overlapByTime(af, "f_s", "f_e",
        bl, "g_s", "g_e", bucketSize = 10L)
      .select(col("f_id"), col("g_id")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    assert(got2 === Seq((1, 10L)))
  }

  test("bloom semi join: probe is a literal filter below the join; prefilter is selective") {
    val plan = graft.queries.ExtraQueries.bloomSemiRevenue(spark, dir)
      .queryExecution.executedPlan.toString
    // the probe must appear as a bit_get filter expression (pure
    // built-ins, not a UDF) in the large side's plan
    assert(plan.contains("bit_get"), s"bloom probe missing from plan:\n$plan")
    // the literal-bitmap form must NOT reintroduce the cross join the
    // broadcast-frame form suffered (Catalyst floated it above the
    // semi join, running the prefilter after the join)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"bitmap joined instead of inlined:\n$plan")
    // prefilter selectivity: maybe-members ≈ true members + fp sliver
    val li = Tables.lineitem(spark, dir)
    val hot = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 450000.0).select(col("o_orderkey"))
    val bloom = graft.ops.BloomJoin.bitmapLiteral(hot, col("o_orderkey"))
    val maybe = li.filter(graft.functions.BloomFilter.mightContain(bloom,
        Seq(col("l_orderkey")), graft.ops.BloomJoin.DefaultBits,
        graft.ops.BloomJoin.DefaultHashes))
      .count()
    val exact = li.join(hot, col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    val total = li.count()
    assert(maybe < total / 2,
      s"bloom prefilter not selective: $maybe of $total rows survive")
    assert(maybe >= exact, "bloom dropped a true member (false negative)")
  }

  test("partitioned layout: scan prunes to the matching partition directory") {
    val tmp = tempDir("graft_layout_plan").toString
    graft.ext.Layout.writePartitioned(Tables.documents(spark, dir), tmp,
      partitionCols = Seq("lang"), sortCols = Seq("source", "doc_id"))
    val langs = new java.io.File(tmp).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("lang="))
    assert(langs.length > 1, s"fixture should span multiple langs, got $langs")
    val q = spark.read.parquet(tmp).filter(col("lang") === "en")
      .groupBy(col("source")).count()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"),
      s"partition filter missing from the scan:\n$plan")
    // the pruned scan must touch ONE partition's files (the scan sits
    // under an AdaptiveSparkPlanExec wrapper — unwrap before collecting)
    def leaves(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        leaves(a.executedPlan)
      case other => other.collectLeaves()
    }
    val scanned = leaves(q.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(scanned === Seq(1), s"expected exactly 1 selected partition, got $scanned")
    // within-partition sort gives each file monotone sortCols ranges:
    // rows of one file arrive sorted by (source, doc_id)
    val firstFile = new java.io.File(s"$tmp/lang=en").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val rows = spark.read.parquet(firstFile.getAbsolutePath)
      .select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.sameElements(rows.sortBy(identity)),
      "file rows must be sorted by (source, doc_id)")
  }
}
