package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{CorpusCache, GraphOps}
import graft.sources.Tables

/** Round-4 hardening of the graph family: the sub-blocked edge
  * derivation and salted wedge join must be IDENTITY rewrites of
  * their naive forms (equality tested here, hot-key behavior recorded
  * in BASELINE.md), PageRank's integer fixed point must early-exit
  * on convergence, and the corpus caches must release at run
  * boundaries.
  */
class GraphOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("graft-graphops-test")
  val dir = "/root/testdata/sf0.001"

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The pre-sub-blocking derivation, kept as the test oracle. */
  private def naiveEdges(): DataFrame = {
    val act = Tables.events(spark, dir)
      .select(date_trunc("minute", col("ts")).as("m"), col("user_id"))
      .distinct()
    act.select(col("m"), col("user_id").as("a"))
      .join(act.select(col("m"), col("user_id").as("b")), Seq("m"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  test("sub-blocked coActivityEdges equals the naive minute self-join") {
    val naive = pairSet(naiveEdges())
    assert(naive.nonEmpty, "fixture must produce co-activity edges")
    // default block size (fixture minutes are small: mostly nsub = 1)
    assert(pairSet(GraphOps.coActivityEdges(spark, dir)) === naive)
    // tiny block size forces nsub > 1 on every populated minute, so
    // the diagonal/off-diagonal unit cover is actually exercised
    assert(pairSet(GraphOps.coActivityEdges(spark, dir, targetSubBlock = 2))
      === naive)
  }

  test("capped coActivityEdges: identity above peak, window-form match below") {
    import spark.implicits._
    // a cap no minute reaches must be the identity rewrite
    val naive = pairSet(naiveEdges())
    assert(pairSet(GraphOps.coActivityEdgesCapped(spark, dir,
      maxUsersPerMinute = 4096)) === naive)
    // synthetic hot minute: 9 users in one minute, 2 in another; a
    // cap of 3 must keep exactly the 3 smallest-md5-prefix users —
    // the row_number window form is the test oracle (the aggregate
    // form exists because the window's per-minute sort is the
    // hot-minute funnel; see the operator Scaladoc)
    val act = (0 until 9).map(u => ("2024-01-01 12:00:00", u.toLong))
      .++(Seq(("2024-01-01 12:05:00", 100L), ("2024-01-01 12:05:00", 101L)))
      .toDF("ms", "user_id")
      .select(col("ms").cast("timestamp").as("m"), col("user_id"))
    val kept = act.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("m"))
          .orderBy(substring(md5(col("user_id").cast("string")), 1, 13),
            col("user_id"))))
      .filter(col("rn") <= 3).drop("rn")
    val expect = pairSet(
      kept.select(col("m"), col("user_id").as("a"))
        .join(kept.select(col("m"), col("user_id").as("b")), Seq("m"))
        .filter(col("a") < col("b"))
        .select(col("a"), col("b")).distinct())
    assert(expect.nonEmpty && expect.size < 9 * 8 / 2 + 1,
      "cap must actually bite on the hot minute")
    assert(pairSet(GraphOps.coActivityEdgesCappedOf(act,
      maxUsersPerMinute = 3)) === expect)
  }

  test("salted triangle join equals the plain form on known topologies") {
    import spark.implicits._
    def tri(edges: Seq[(Long, Long)], fanout: Long): Long =
      GraphOps.triangleCount(edges.toDF("a", "b"), targetFanout = fanout)
        .collect()(0).getLong(0)
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    // targetFanout=1 salts EVERY key with in·out > 1 — the densest
    // possible exercise of the replicate/split cover
    assert(tri(k4, 1L) === 4L)
    assert(tri(k4, 1L << 22) === 4L)
    // hub wedge: center 5 under/over neighbors on both sides + one
    // closing edge → exactly 1 triangle, hub key carries all wedges
    val hub = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L),
      (5L, 6L), (5L, 7L), (5L, 8L), (4L, 6L))
    assert(tri(hub, 1L) === 1L)
    assert(tri(hub, 1L << 22) === 1L)
  }

  test("PageRank early-exits at the fixed point; cap still binds (both paths)") {
    import spark.implicits._
    // exercised on BOTH the adaptive single-task path (default) and
    // the distributed loop (localMaxEdges = 0) — same rounds, same
    // bit-exact integer ranks
    for (lme <- Seq(1L << 20, 0L)) {
      // 4-cycle: regular degree 2, so rank stays exactly 1e6 — the
      // fixed point is reached at round 1 and rounds 2..5 are saved
      val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
      val (cr, cRounds) = GraphOps.pageRankWithRounds(cycle, iters = 5, 0.85, lme)
      assert(cRounds === 1, s"localMaxEdges=$lme")
      assert(cr.collect().forall(_.getLong(1) === 1000000L))
      // star: hub/leaf ranks keep moving — the cap must bind
      val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
      val (sr, sRounds) = GraphOps.pageRankWithRounds(star, iters = 5, 0.85, lme)
      assert(sRounds === 5, s"localMaxEdges=$lme")
      val ranks = sr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ranks(1L) > ranks(2L), "hub must outrank leaves")
    }
  }

  test("PageRank single-task path ≡ distributed loop on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val ids = Array.fill(40)(rnd.nextLong().abs % 100000L)
    val edges = (0 until 120).map { _ =>
      (ids(rnd.nextInt(ids.length)), ids(rnd.nextInt(ids.length)))
    }.filter { case (a, b) => a != b }.toDF("a", "b")
    val fast = GraphOps.pageRankFixedPoint(edges, iters = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val loop = GraphOps.pageRankFixedPoint(edges, iters = 5,
        localMaxEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(fast === loop)
  }

  test("damping parameter shifts mass toward the uniform term") {
    import spark.implicits._
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    def hubShare(damping: Double): Double = {
      val rows = GraphOps.pageRankFixedPoint(star, iters = 5, damping)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      rows(1L).toDouble / rows.values.sum
    }
    // lower damping → more uniform teleport mass → flatter ranking
    assert(hubShare(0.5) < hubShare(0.85))
    assert(hubShare(0.5) > 0.25, "hub keeps a plurality at any damping")
  }

  test("corpus caches release at the run boundary (no lingering entries)") {
    import spark.implicits._
    val docs = (0 until 60).map(i =>
      (i.toLong, s"s${i % 3}", s"alpha beta gamma delta epsilon zeta tok$i"))
      .toDF("doc_id", "source", "text")
    // force both persist sites through a real multi-pass run
    graft.ext.Dedup.minhashPairs(docs, threshold = 0.5).count()
    val embs = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(d => (1.0f + i * d % 7)))).toDF("vec_id", "embedding")
    graft.ext.Similarity.cosineNearDupPairs(embs, threshold = 0.95,
      nClusters = 4).count()
    assert(CorpusCache.lingering.nonEmpty,
      "operators should hold their corpus caches during the run")
    val released = CorpusCache.releaseAll()
    assert(released > 0)
    assert(CorpusCache.lingering.isEmpty,
      "no MEMORY_AND_DISK entries may outlive the run boundary")
    assert(CorpusCache.releaseAll() === 0, "release is idempotent")
  }

  test("tracked checkpoints release with the run boundary (ADVICE r12)") {
    import spark.implicits._
    CorpusCache.releaseAll()
    val ck = CorpusCache.checkpoint(
      (0 until 50).map(i => (i.toLong, s"w$i")).toDF("id", "w"))
    assert(ck.count() === 50)
    assert(CorpusCache.lingering.nonEmpty,
      "checkpoint blocks are tracked while live")
    assert(CorpusCache.releaseAll() > 0)
    assert(CorpusCache.lingering.isEmpty,
      "checkpoint blocks must not outlive the run boundary")
  }
}
