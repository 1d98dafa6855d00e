package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Graph analytics over derived edge sets — the structural metrics a
  * curation pipeline computes on its near-dup / co-occurrence graphs
  * (beyond [[Dedup.connectedComponents]]'s labeling): triangle
  * counting and the degree profile. The gate's graph is user
  * co-activity (two users active in the same minute), whose DISTINCT
  * edge set is bounded by the user-pair space regardless of event
  * volume.
  *
  * Scale notes: BOTH quadratic shapes here are skew-guarded the same
  * way [[Dedup.jaccardPairsBySource]] guards its block self-join —
  * triangle sub-blocking, where one over-populated key is covered by
  * O(c²) uniform (p,q) unit tasks instead of one near-cross-product
  * task:
  *
  *  - edge DERIVATION ([[coActivityEdges]]): the per-minute self-join
  *    sub-blocks the minute key, so a flash-sale minute with 10⁴–10⁵
  *    active users (at 100×, every minute) spreads across
  *    nsub·(nsub+1)/2 tasks rather than pinning one;
  *  - triangle COUNTING ([[triangleCount]]): the wedge join's fanout
  *    per vertex is in(v)·out(v) — the high-degree-hub hazard — so
  *    hub keys are salted: the probe side splits into `ns` salt
  *    buckets, the build side replicates across them, `ns` sized from
  *    the actual per-key fanout product;
  *  - bounded OUTPUT ([[coActivityEdgesCapped]]): sub-blocking fixes
  *    the shuffle but the pair set stays C(n,2) by semantics — the
  *    capped variant samples each minute's vertices deterministically
  *    so output is ≤ C(cap,2)/minute at any event rate.
  *
  * Both are identity rewrites (same distinct pair / count semantics),
  * so the DuckDB oracles are unchanged; equality with the plain forms
  * is property-tested in GraphOpsSpec; the hot-key measurements are
  * in BASELINE.md ("10M-edge graph ladder").
  */
object GraphOps {

  /** Canonical (a < b) distinct co-activity edges, sub-blocked.
    *
    * The naive form — self-join on the raw minute key — shuffles on
    * `m` alone: one hot minute degenerates to a single near-cross-
    * product task. Here each minute is split into
    * `nsub = ceil(active/targetSubBlock)` hash sub-blocks; side A
    * carries its own block `v` and explodes partners `q ∈ [v, nsub)`,
    * side B explodes `p ∈ [0, v]` — every unordered user pair meets in
    * exactly one (m, p, q) unit, and units are uniform ~targetSubBlock²
    * comparisons. Per-minute block counts come from a broadcast count
    * join (one row per distinct minute — tiny at any scale). The
    * explicit fixed-N repartition pins probe parallelism (AQE would
    * coalesce the tiny-but-CPU-heavy stage; explicit N is exempt).
    */
  def coActivityEdges(spark: SparkSession, dir: String,
      targetSubBlock: Int = 1024): DataFrame =
    coActivityEdgesOf(
      Tables.events(spark, dir)
        .select(date_trunc("minute", col("ts")).as("m"), col("user_id"))
        .distinct(),
      targetSubBlock)

  /** [[coActivityEdges]] over a prepared DISTINCT (m, user_id) frame. */
  private def coActivityEdgesOf(act0: DataFrame, targetSubBlock: Int = 1024): DataFrame = {
    val spark = act0.sparkSession
    // materialized once: the census probe below and both join sides
    // reuse the distinct activity frame instead of re-deriving it
    val act = act0.localCheckpoint(true)
    val counts = act.groupBy(col("m"))
      .agg(ceil(count(lit(1)).cast("double") / targetSubBlock)
        .cast("int").as("nsub"))
    // ADAPTIVE, same discipline as [[triangleCount]]'s hub probe: the
    // census is computed anyway, and when NO minute exceeds one
    // sub-block (every nsub = 1 — the common case at sane event
    // rates) the explode/merge-hint machinery is pure premium — the
    // plain minute self-join over the checkpointed frame (accurate
    // stats, planner-chosen strategy) is the same distinct pair set.
    // A hot minute anywhere engages the sub-block cover below.
    val maxNsubRow = counts.agg(max(col("nsub"))).first()
    val maxNsub = if (maxNsubRow.isNullAt(0)) 0 else maxNsubRow.getInt(0)
    if (maxNsub <= 1) {
      return act.select(col("m"), col("user_id").as("a"))
        .join(act.select(col("m"), col("user_id").as("b")), Seq("m"))
        .filter(col("a") < col("b"))
        .select(col("a"), col("b")).distinct()
    }
    val sub = act.join(broadcast(counts), Seq("m"))
      .withColumn("v", pmod(xxhash64(col("user_id")), col("nsub")).cast("int"))
    val a = sub.select(col("m"), col("user_id").as("a"), col("v").as("p"),
      explode(sequence(col("v"), col("nsub") - 1)).as("q"))
    val b = sub.select(col("m"), col("user_id").as("b"),
      explode(sequence(lit(0), col("v"))).as("p"), col("v").as("q"))
    val par = spark.sparkContext.defaultParallelism
    // merge hint: both sides are the sub-block-exploded activity
    // frame and explode defeats size estimation — left alone the
    // planner can BROADCAST the b-side (see
    // [[graft.ext.Dedup.jaccardPairsBySource]]'s join note)
    a.repartition(par, col("m"), col("p"), col("q"))
      .join(b.hint("merge"), Seq("m", "p", "q"))
      // same-block pairs appear in both orientations → keep a < b;
      // cross-block pairs appear once, in block order → canonicalize
      .filter(col("p") =!= col("q") || col("a") < col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
  }

  /** Bounded-OUTPUT co-activity derivation — the degrade-gracefully
    * knob for event rates where even a perfectly balanced full pair
    * product is unwanted output. [[coActivityEdges]] fixes the hot
    * minute's SHUFFLE skew, but the pair set stays quadratic BY
    * SEMANTICS (C(n, 2) per minute): at 100× rates the edges
    * themselves become the bottleneck of every downstream consumer.
    * Here each minute contributes at most `maxUsersPerMinute` users —
    * a deterministic hash-order sample (smallest 52-bit md5 prefix of
    * the user id, ties on the id), so the pair output per minute is
    * bounded by C(cap, 2) regardless of event rate, the kept set is a
    * pure function of (minute, user) — stable across re-ingests,
    * cluster sizes, and engines — and the sampled graph is a uniform
    * vertex sample per minute (md5 is hash-uniform), the standard
    * structure-preserving degrade for co-occurrence graphs.
    *
    * The per-minute selection runs as the bounded-buffer top-k
    * AGGREGATE ([[graft.functions.TopKRowsAggregator]]): map-side
    * partials bound the shuffle to cap rows per partition × minute.
    * The `row_number()` window form would re-create the exact
    * hot-minute single-task funnel this module exists to avoid — one
    * partition sorting all 10⁵ flash-sale users; the aggregate form
    * never materializes a minute's full user list on one task. md5
    * (not xxhash64) is deliberate: both engines compute it, so the
    * DuckDB oracle re-runs the SAME selection rather than trusting a
    * Spark-side materialization, and a fixed-length lowercase-hex
    * prefix compares identically as a string (oracle) and as the
    * exact 52-bit double the aggregator scores by (hex digit order is
    * ASCII order; 52 bits sit inside double's 53-bit mantissa).
    */
  def coActivityEdgesCapped(spark: SparkSession, dir: String,
      maxUsersPerMinute: Int = 4096,
      targetSubBlock: Int = 1024): DataFrame =
    coActivityEdgesCappedOf(
      Tables.events(spark, dir)
        .select(date_trunc("minute", col("ts")).as("m"), col("user_id"))
        .distinct(),
      maxUsersPerMinute, targetSubBlock)

  /** [[coActivityEdgesCapped]] over a prepared DISTINCT (m, user_id)
    * frame — the synthetic-activity entry point for tests.
    */
  def coActivityEdgesCappedOf(act: DataFrame, maxUsersPerMinute: Int,
      targetSubBlock: Int = 1024): DataFrame =
    coActivityEdgesOf(cappedActivity(act, maxUsersPerMinute), targetSubBlock)

  /** The selection stage of [[coActivityEdgesCapped]], exposed so
    * PlansSpec can assert its physical shape (the pairing's eager
    * localCheckpoint truncates it out of the composed plan).
    */
  private[graft] def cappedActivity(act: DataFrame,
      maxUsersPerMinute: Int): DataFrame = {
    import graft.functions.TopKRowsAggregator.{ScoredRow, TopK}
    val topk = org.apache.spark.sql.functions.udaf(
      new TopK(maxUsersPerMinute),
      org.apache.spark.sql.Encoders.product[ScoredRow])
    // TopK keeps DESCENDING by score; smallest-hash-first ⇒ negate.
    // conv() yields the prefix's decimal digits; 52 bits cast to
    // double exactly.
    val score = conv(substring(md5(col("user_id").cast("string")), 1, 13),
      16, 10).cast("double") * lit(-1d)
    act
      .groupBy(col("m"))
      .agg(topk(score, col("user_id")).as("keep"))
      .select(col("m"), explode(col("keep")).as("r"))
      .select(col("m"), col("r.id").as("user_id"))
  }

  /** Triangle count of a canonical (a < b) edge set — 1-row frame.
    *
    * Two keyed equi-joins (wedge build + closing-edge probe), every
    * edge stored once in (a < b) orientation so each triangle is
    * counted exactly once (a < b < c). The wedge join's per-key fanout
    * is in(v)·out(v): vertices whose product exceeds `targetFanout`
    * are salted — the u-side (key `u_a`) splits into `ns` buckets by
    * hash of its other endpoint, the t-side (key `t_b`) replicates
    * across all `ns` — bounding every task's intermediate to
    * ~targetFanout wedges. Only over-threshold keys enter the
    * broadcast (hot set is tiny by definition); cold keys pay one
    * coalesce. The closing join keys on BOTH endpoints, where the
    * distinct edge set guarantees ≤1 build row per key — no fanout.
    */
  def triangleCount(e: DataFrame, targetFanout: Long = 1L << 22): DataFrame = {
    val hot = e.groupBy(col("a").as("k")).agg(count(lit(1)).as("ca"))
      .join(e.groupBy(col("b").as("k")).agg(count(lit(1)).as("cb")), Seq("k"))
      .select(col("k"),
        least(lit(256L), ceil(col("ca") * col("cb") / lit(targetFanout.toDouble)))
          .cast("int").as("ns"))
      .filter(col("ns") > 1)
    // ADAPTIVE: the salt machinery (per-row explode + salt hash +
    // composite join key) only engages when an over-threshold key
    // actually exists — the common no-hub graph pays one bounded
    // degree aggregation + an isEmpty probe and keeps the plain
    // 2-join plan. (Local rehearsal is honest about the premium: at
    // a 25M-wedge hub, salted 11.2 s vs plain 9.6 s on local[32]'s
    // in-memory shuffle — the case salting exists for is the
    // cluster-scale hub whose single-reducer wedge stream is a
    // straggler/OOM, which a single node cannot exhibit.)
    if (hot.isEmpty) {
      e.select(col("a").as("t_a"), col("b").as("t_b"))
        .join(e.select(col("a").as("u_a"), col("b").as("u_b")),
          col("u_a") === col("t_b"))
        .join(e.select(col("a").as("v_a"), col("b").as("v_b")),
          col("v_a") === col("t_a") && col("v_b") === col("u_b"))
        .agg(count(lit(1)).as("n_triangles"))
    } else {
      val t = e.select(col("a").as("t_a"), col("b").as("t_b"))
        .join(broadcast(hot.select(col("k").as("t_b"), col("ns"))),
          Seq("t_b"), "left")
        .select(col("t_a"), col("t_b"),
          explode(sequence(lit(0), coalesce(col("ns"), lit(1)) - 1)).as("rt"))
      val u = e.select(col("a").as("u_a"), col("b").as("u_b"))
        .join(broadcast(hot.select(col("k").as("u_a"), col("ns"))),
          Seq("u_a"), "left")
        .select(col("u_a"), col("u_b"),
          pmod(xxhash64(col("u_b")), coalesce(col("ns"), lit(1)))
            .cast("int").as("ru"))
      t.join(u, col("u_a") === col("t_b") && col("ru") === col("rt"))
        .join(e.select(col("a").as("v_a"), col("b").as("v_b")),
          col("v_a") === col("t_a") && col("v_b") === col("u_b"))
        .agg(count(lit(1)).as("n_triangles"))
    }
  }

  /** One-row structural profile: nodes, edges, triangles, max/avg
    * degree (degree over the undirected edge set). The derived edge
    * set feeds four consumers — materialized once via localCheckpoint
    * so the sub-blocked derivation isn't re-run per consumer.
    */
  def triangleProfile(spark: SparkSession, dir: String): DataFrame = {
    val e = coActivityEdges(spark, dir).localCheckpoint(true)
    val tri = triangleCount(e)
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n_nodes"), max(col("d")).as("max_degree"),
        sum(col("d")).as("deg_sum"))
    val edges = e.agg(count(lit(1)).as("n_edges"))
    deg.crossJoin(edges).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("max_degree"),
        round(col("deg_sum").cast("double") / col("n_nodes").cast("double"), 4)
          .as("avg_degree"))
  }

  /** PageRank in EXACT integer fixed point (micro-units: 1.0 ≡ 1e6):
    * `r' = (1−d) + d·Σ r(u)/deg(u)` becomes
    * `base + (dµ·Σ(r(u) div deg(u))) div 1e6` with
    * `dµ = round(d·1e6)`, `base = 1e6 − dµ` — every operation is
    * integer, so the iteration is bit-deterministic across
    * partitionings AND engines: the classic float formulation sums
    * contributions in shuffle order and can never hash-match an
    * oracle; this one can and does (the DuckDB twin unrolls the same
    * iterations as CTEs). The div-truncation bias is bounded by
    * 1 micro-unit per in-edge per round — invisible at ranking grain
    * and identical in both engines.
    *
    * Dataflow per round: one (src-keyed) join of the 16-byte rank
    * frame with edges, one dst-keyed contribution aggregate — the
    * same two-shuffle round as [[Dedup.connectedComponents]], with
    * `localCheckpoint` truncating lineage so plans stay flat at any
    * iteration count. The directed edge/degree frames are checkpointed
    * once up front — each round joins materialized blocks instead of
    * re-deriving the (sub-blocked) edge set from the scan.
    *
    * Integer exactness buys convergence detection for free: once
    * `r' = r` bit-for-bit the iteration is at its fixed point and
    * every further round is the identity, so the loop exits early
    * (`iters` stays the CAP — the oracle unrolls `iters` CTE rounds
    * and post-fixed-point rounds are identities there too, keeping
    * the gate/oracle pairing unchanged). The check is one `isEmpty`
    * over the changed-rank join per round: on a non-converged graph
    * it short-circuits at the first changed row; on the converged
    * round its full pass costs less than the round it saves.
    */
  def pageRankFixedPoint(edges: DataFrame, iters: Int = 5,
      damping: Double = 0.85, localMaxEdges: Long = 1L << 20): DataFrame =
    pageRankWithRounds(edges, iters, damping, localMaxEdges)._1

  /** [[pageRankFixedPoint]] plus the number of rounds actually run —
    * the observable for the early-exit tests.
    *
    * ADAPTIVE like [[Dedup.connectedComponents]]: the directed edge
    * frame is checkpointed (materialized) anyway, so one cheap count
    * routes graphs at or under `localMaxEdges` to a single executor
    * task that runs the SAME integer fixed point over an in-memory
    * adjacency (every operation exact, non-negative `div`s — the
    * iteration is bit-deterministic, so both paths and the unrolled
    * DuckDB oracle agree to the bit; property-tested). The per-round
    * distributed machinery — two keyed shuffles, a checkpoint, a
    * convergence join — is pure overhead on the co-activity graphs
    * the gates actually produce (~1k edges); the scale path below is
    * unchanged and the ladder/rehearsal pin `localMaxEdges = 0` to
    * measure it.
    */
  private[graft] def pageRankWithRounds(edges: DataFrame, iters: Int,
      damping: Double, localMaxEdges: Long = 1L << 20): (DataFrame, Int) = {
    val spark = edges.sparkSession
    val dMicro = math.round(damping * 1000000L)
    val base = 1000000L - dMicro
    val directed = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    val nDirected = directed.count()
    if (nDirected > 0 && nDirected <= 2 * localMaxEdges) {
      import spark.implicits._
      val res = directed.select(col("src").as("_1"), col("dst").as("_2"))
        .as[(Long, Long)].coalesce(1).mapPartitions { it =>
          val out = scala.collection.mutable.LongMap
            .empty[scala.collection.mutable.ArrayBuffer[Long]]
          it.foreach { case (s, d) =>
            out.getOrElseUpdate(s,
              scala.collection.mutable.ArrayBuffer.empty[Long]) += d
          }
          // directed holds both orientations, so every node has an
          // out-edge and appears as a key
          val nodes = out.keys.toArray
          var rank = scala.collection.mutable.LongMap.empty[Long]
          nodes.foreach(n => rank.update(n, 1000000L))
          var round = 0
          var converged = false
          while (round < iters && !converged) {
            round += 1
            val contrib = scala.collection.mutable.LongMap.empty[Long]
            out.foreach { case (s, ds) =>
              val share = rank(s) / ds.length // rank div deg
              ds.foreach(d =>
                contrib.update(d, contrib.getOrElse(d, 0L) + share))
            }
            var changed = false
            val next = scala.collection.mutable.LongMap.empty[Long]
            nodes.foreach { n =>
              val r = base + (dMicro * contrib.getOrElse(n, 0L)) / 1000000L
              if (r != rank(n)) changed = true
              next.update(n, r)
            }
            rank = next
            converged = !changed
          }
          val rr = round
          nodes.iterator.map(n => (n, rank(n), rr))
        }.toDF("node", "rank", "rounds")
        .localCheckpoint(true)
      val rounds = res.select(max(col("rounds"))).first().getInt(0)
      return (res.select(col("node"), col("rank"))
        .orderBy(col("rank").desc, col("node")).limit(20), rounds)
    }
    val deg = directed.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val nodes = directed.select(col("src").as("node")).distinct()
      .localCheckpoint(true)
    var rank = nodes.withColumn("rank", lit(1000000L))
    // per-round materialization via Dedup.roundBarrier, NOT
    // localCheckpoint: Spark 4 checkpoints inherit source-plan
    // Statistics, and a checkpoint-per-round loop compounds size
    // estimates multiplicatively — harmless at the default 5 rounds,
    // a driver livelock in BigInteger stats math by ~15 (see the
    // connectedComponents loop note; measured there)
    var rankRdd: org.apache.spark.rdd.RDD[_] = null
    var converged = false
    var round = 0
    while (round < iters && !converged) {
      round += 1
      val contrib = directed
        .join(rank.withColumnRenamed("node", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst").as("node"), expr("rank div deg").as("share"))
        .groupBy(col("node")).agg(sum(col("share")).as("c"))
      val (next, nextRdd) = graft.ext.Dedup.roundBarrier(
        nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            (lit(base) + expr(s"($dMicro * coalesce(c, bigint(0))) div 1000000"))
              .as("rank")))
      converged = next.withColumnRenamed("rank", "r_next")
        .join(rank.withColumnRenamed("rank", "r_prev"), Seq("node"))
        .filter(col("r_next") =!= col("r_prev"))
        .isEmpty
      if (rankRdd != null) rankRdd.unpersist()
      rank = next
      rankRdd = nextRdd
    }
    (rank.orderBy(col("rank").desc, col("node")).limit(20), round)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_triangles" -> (triangleProfile _),
    "graph_pagerank" -> ((s, d) =>
      pageRankFixedPoint(coActivityEdges(s, d), iters = 5)),
    // cap = 2 bites on every multi-user fixture minute (sf0.01 peaks
    // at 4 users/minute), so the gate verifies WHICH users the
    // hash-order selection keeps, not just how many
    "graph_coactivity_capped" -> ((s, d) =>
      coActivityEdgesCapped(s, d, maxUsersPerMinute = 2)
        .orderBy(col("a"), col("b"))),
    // triangle census over the CAPPED derivation — the composition
    // that stays bounded at scale. The uncapped graph_triangles gate
    // is intrinsically superlinear in per-minute population (pair
    // edges grow as C(n,2), triangle work as ~m^1.5): the sf1.0
    // canary measured it at 1300x for 10x data, while this capped
    // form's edge set is ≤ C(cap,2) per minute by construction. cap=3
    // is the smallest value where triangles exist at all (each hot
    // minute's kept users form a clique), so the gate checks the
    // capped clique structure, not a degenerate zero
    "graph_triangles_capped" -> ((s, d) =>
      triangleCount(coActivityEdgesCapped(s, d, maxUsersPerMinute = 3))),
    // PageRank over the CAPPED derivation — the composition that stays
    // bounded at scale (the round-5 canary measured the uncapped gate
    // at 22x for 10x data, all of it in the C(n,2) edge derivation the
    // iteration consumes; the capped edge set is ≤ C(cap,2)/minute by
    // construction, so input to the linear iteration is rate-bounded).
    // cap=3 matches graph_triangles_capped: per-minute cliques give the
    // ranking real structure (shared-minute hubs outrank singletons)
    "graph_pagerank_capped" -> ((s, d) =>
      pageRankFixedPoint(
        coActivityEdgesCapped(s, d, maxUsersPerMinute = 3), iters = 5))
  )

  /** The PageRank oracle unrolls the SAME integer fixed-point
    * iterations as chained CTEs (generated, one per round) — possible
    * only because the arithmetic is exact integers; `//` in DuckDB
    * and `div` in Spark both truncate, and inputs are non-negative.
    * Early exit on the Spark side never diverges from the unrolled
    * form: post-fixed-point rounds are identities in both engines.
    *
    * `cap` = Some(c) routes the edge CTE through the SAME
    * smallest-md5-prefix per-minute selection as the
    * `graph_coactivity_capped` oracle, so the capped-PageRank oracle
    * re-derives both the bounded edge set and the iteration
    * independently.
    */
  private def pageRankOracle(iters: Int, damping: Double = 0.85,
      cap: Option[Int] = None): String = {
    val dMicro = math.round(damping * 1000000L)
    val base = 1000000L - dMicro
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |         CAST($base + ($dMicro * coalesce(s.c, 0)) // 1000000
         |              AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank // d.deg) AS c
         |    FROM e JOIN r${i - 1} r ON r.node = e.src
         |    JOIN deg d ON d.src = e.src
         |    GROUP BY 1) s ON s.node = n.node)""".stripMargin
    }.mkString(",\n")
    val baseCte = cap.map(cappedKeptCte).getOrElse(ActCte)
    val pairSource = if (cap.isDefined) "kept" else "act"
    s"""WITH $baseCte,
       |ue AS (
       |  SELECT DISTINCT x.user_id AS a, y.user_id AS b
       |  FROM $pairSource x JOIN $pairSource y
       |    ON x.m = y.m AND x.user_id < y.user_id),
       |e AS (SELECT a AS src, b AS dst FROM ue
       |      UNION ALL SELECT b, a FROM ue),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
       |$rounds
       |SELECT node, rank FROM r$iters
       |ORDER BY rank DESC, node LIMIT 20""".stripMargin
  }

  /** The distinct per-minute activity CTE shared by every graph
    * oracle. */
  private val ActCte =
    """act AS (
      |  SELECT DISTINCT date_trunc('minute', ts) AS m, user_id FROM events)""".stripMargin

  /** The per-minute smallest-md5-prefix selection as oracle CTEs —
    * ONE copy for every capped-graph oracle (coactivity, triangles,
    * PageRank): the selection text must stay bit-compatible with the
    * Spark TopK scoring (13-char prefix, user_id tie-break), and a
    * drift between per-oracle copies would make the capped gates
    * disagree with each other. A fixed-length lowercase hex prefix
    * compares identically as a string here and as the 52-bit numeric
    * score the Spark aggregator uses.
    */
  private def cappedKeptCte(cap: Int): String =
    s"""$ActCte,
       |ranked AS (
       |  SELECT m, user_id,
       |         row_number() OVER (
       |           PARTITION BY m
       |           ORDER BY substr(md5(CAST(user_id AS VARCHAR)), 1, 13),
       |                    user_id) AS rn
       |  FROM act),
       |kept AS (SELECT m, user_id FROM ranked WHERE rn <= $cap)""".stripMargin

  val oracles: Map[String, String] = Map(
    "graph_pagerank" -> pageRankOracle(5),
    "graph_pagerank_capped" -> pageRankOracle(5, cap = Some(3)),
    "graph_coactivity_capped" ->
      s"""WITH ${cappedKeptCte(2)}
         |SELECT DISTINCT x.user_id AS a, y.user_id AS b
         |FROM kept x JOIN kept y ON x.m = y.m AND x.user_id < y.user_id
         |ORDER BY a, b""".stripMargin,
    "graph_triangles_capped" ->
      s"""WITH ${cappedKeptCte(3)},
         |e AS (
         |  SELECT DISTINCT x.user_id AS a, y.user_id AS b
         |  FROM kept x JOIN kept y ON x.m = y.m AND x.user_id < y.user_id)
         |SELECT count(*) AS n_triangles
         |FROM e e1
         |JOIN e e2 ON e2.a = e1.b
         |JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,
    "graph_triangles" ->
      s"""WITH $ActCte,
        |e AS (
        |  SELECT DISTINCT x.user_id AS a, y.user_id AS b
        |  FROM act x JOIN act y ON x.m = y.m AND x.user_id < y.user_id),
        |deg AS (
        |  SELECT v, count(*) AS d FROM (
        |    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        |  GROUP BY 1)
        |SELECT (SELECT count(*) FROM deg) AS n_nodes,
        |       (SELECT count(*) FROM e) AS n_edges,
        |       (SELECT count(*) FROM e e1
        |        JOIN e e2 ON e2.a = e1.b
        |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles,
        |       (SELECT max(d) FROM deg) AS max_degree,
        |       (SELECT round(CAST(sum(d) AS DOUBLE)
        |                     / CAST(count(*) AS DOUBLE), 4)
        |        FROM deg) AS avg_degree""".stripMargin
  )
}
