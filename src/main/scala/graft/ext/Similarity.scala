package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Similarity search over the `embeddings` fixture table
  * (`embedding: array<float>`, dim 64).
  *
  * Three tiers, per the builder contract:
  *  1. brute-force cosine (exact baseline) — threshold join and
  *     top-k, both oracle-checkable;
  *  2. random-hyperplane LSH (sign-bit buckets) — the scale path:
  *     candidate generation via bucket equi-join instead of the
  *     O(n²) cross product;
  *  3. embedding-cosine near-dup (the 5th dedup family).
  *
  * All arithmetic is double-precision, sequential left-fold over the
  * array (`aggregate`/`zip_with` higher-order functions, codegen'd) —
  * bit-compatible with the oracle's `list_cosine_similarity` over
  * `DOUBLE[]`, so results hash-match exactly.
  *
  * Scale notes: the brute-force form broadcasts the (small) query
  * set and never shuffles the corpus; the LSH form's only shuffle is
  * on (table, bucket) keys. At 100 TB one would add an IVF
  * (cluster-then-probe) layer; the bucket-join dataflow is identical.
  */
object Similarity {

  /** cosine(a, b) in double precision: Σab / (√Σa²·√Σb²), on the
    * native [[graft.functions.VecDot]] expression (sequential
    * accumulation — bit-identical to the higher-order-function fold
    * and the oracle). Inputs may be float arrays; cast once here.
    */
  def cosine(a: Column, b: Column): Column = {
    import graft.functions.VecDot.vec_dot
    val aD = transform(a, v => v.cast("double"))
    val bD = transform(b, v => v.cast("double"))
    vec_dot(aD, bD) / (sqrt(vec_dot(aD, aD)) * sqrt(vec_dot(bD, bD)))
  }

  /** Pairs with cosine ≥ threshold (brute force, a < b). The exact
    * near-dup / similarity-join baseline.
    *
    * The norm of each vector is computed ONCE in a narrow pre-pass
    * (O(n·d)), not per pair (O(n²·d)): the pairwise stage does a
    * single dot product + one divide. Cut the sf0.1 bench from 69 s
    * to the dot-product floor. (Division shape `dot/(na·nb)` is kept
    * identical to the oracle's cosine for bit parity.)
    */
  def thresholdJoin(emb: DataFrame, threshold: Double): DataFrame = {
    val prepped = emb.select(col("vec_id"),
      transform(col("embedding"), v => v.cast("double")).as("e"),
      sqrt(aggregate(col("embedding"), lit(0.0),
        (acc, v) => acc + v.cast("double") * v.cast("double"))).as("nrm"))
    val a = prepped.select(col("vec_id").as("id_a"), col("e").as("e_a"), col("nrm").as("n_a"))
    val b = prepped.select(col("vec_id").as("id_b"), col("e").as("e_b"), col("nrm").as("n_b"))
    // The streamed side of the nested-loop probe inherits the scan's
    // split count — a single small file means ONE task doing all n²/2
    // dot products. Fixed-N round-robin repartition pins probe
    // parallelism (explicit N is exempt from AQE coalescing); at scale
    // its cost is noise next to the O(n²) stage it feeds.
    a.repartition(emb.sparkSession.sparkContext.defaultParallelism)
      .join(b, col("id_a") < col("id_b"))
      .withColumn("sim",
        graft.functions.VecDot.vec_dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** (id, double-vector, norm) pre-pass: each vector's norm is
    * computed ONCE here, never per pair — the same O(n·d)-not-
    * O(n²·d) discipline as [[thresholdJoin]].
    */
  private def withNorm(df: DataFrame, idOut: String, eOut: String,
      nOut: String): DataFrame =
    df.select(col("vec_id").as(idOut),
      transform(col("embedding"), v => v.cast("double")).as(eOut),
      sqrt(aggregate(col("embedding"), lit(0.0),
        (acc, v) => acc + v.cast("double") * v.cast("double"))).as(nOut))

  /** Exact top-k cosine neighbors for each query vector (brute
    * force): broadcast the query set (with precomputed norms), score
    * the corpus once, per-query top-k via window row_number (ties
    * broken by neighbor id).
    */
  def bruteTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import graft.functions.VecDot.vec_dot
    val q = withNorm(queries, "query_id", "e_q", "n_q")
    val c = withNorm(emb, "neighbor_id", "e_c", "n_c")
      // pin probe parallelism (see [[thresholdJoin]])
      .repartition(emb.sparkSession.sparkContext.defaultParallelism)
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        vec_dot(col("e_q"), col("e_c")) / (col("n_q") * col("n_c")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** Random-hyperplane LSH bucket id: `bits` sign bits of dot
    * products with deterministic ±1 hyperplanes (seeded JVM-spec PRNG
    * — reproducible, no stored model). Hyperplanes are baked in as
    * array literals and dotted with the native `vec_dot` expression:
    * constant-folded plane vectors + one tight loop per bit, versus
    * the composable form's per-bit sequence/zip_with allocations.
    * Expects an `array<double>` input (callers pre-cast once).
    */
  def lshBucket(e: Column, bits: Int, dim: Int, seed: Int = 7): Column = {
    import graft.functions.VecDot.vec_dot
    val bitCols = (0 until bits).map { j =>
      val rnd = new scala.util.Random((seed.toLong << 16) | j.toLong)
      val plane = Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
      when(vec_dot(e, typedlit(plane)) >= 0, lit(1L << j)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** (id, tbl, bucket) assignments for `tables` independent LSH
    * bucketings — the deterministic candidate-generation state. Public
    * so Verify can materialize it as the aux input to the DuckDB
    * oracle (which re-runs the bucket join + exact re-rank in SQL).
    */
  def lshBuckets(df: DataFrame, idCol: String,
      bits: Int = 6, tables: Int = 8, dim: Int = 64): DataFrame =
    bucketedLsh(df.select(col(idCol), col("embedding").as("__e")), idCol, "__e",
      bits, tables, dim).select(col(idCol), col("tbl"), col("bucket"))

  private def bucketedLsh(df: DataFrame, idCol: String, eCol: String,
      bits: Int, tables: Int, dim: Int): DataFrame =
    df.select(col(idCol),
        transform(col(eCol), v => v.cast("double")).as(eCol))
      .select(col(idCol), col(eCol),
        posexplode(array((0 until tables).map(t =>
          lshBucket(col(eCol), bits, dim, seed = 7 + t)): _*))
          .as(Seq("tbl", "bucket")))

  /** ANN via LSH: `tables` independent bucketings; candidates = pairs
    * sharing a bucket in any table; exact cosine re-rank of the
    * candidates, top-k per query. LSH recall < 1 vs brute force
    * (asserted in tests); the GATE is exact — the DuckDB twin
    * reproduces the same candidate set from the materialized bucket
    * assignments and must land the identical top-k.
    */
  def annLsh(emb: DataFrame, queries: DataFrame, k: Int,
      bits: Int = 6, tables: Int = 8, dim: Int = 64): DataFrame = {
    def bucketed(df: DataFrame, idCol: String, eCol: String) =
      bucketedLsh(df, idCol, eCol, bits, tables, dim)
    // the QUERY side is the broadcast side BY CONTRACT (a bounded
    // probe set ≪ corpus): explicit, because both bucket frames have
    // explode-garbled size estimates and the planner must never pick
    // the corpus side to build
    val cand = bucketed(
        emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("e_c")),
        "neighbor_id", "e_c")
      .join(broadcast(bucketed(
        queries.select(col("vec_id").as("query_id"), col("embedding").as("e_q")),
        "query_id", "e_q")), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    cand.withColumn("sim", cosine(col("e_q"), col("e_c")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** Embedding-cosine near-duplicate pairs — dedup family #5.
    *
    * The scale path: IVF-style candidate generation with a
    * triangle-inequality coverage GUARANTEE, then exact `vec_dot`
    * verification. Not an all-pairs row join.
    *
    *  1. Coarse quantizer: spherical k-means (assign = argmax unit
    *     dot, update = normalized mean; deterministic seed, Lloyd as
    *     DataFrame aggs — driver holds only k×dim centroids + k radii).
    *  2. Cluster-pair pruning: a pair with cos ≥ t has angular
    *     distance θ(a,b) ≤ θ_t = arccos t, so its clusters satisfy
    *     θ(c_a, c_b) ≤ r_a + θ_t + r_b (r = cluster angular radius).
    *     Only cluster pairs meeting that bound (+1e-9 fp slack, which
    *     can only ADD candidates) are joined — recall is 1.0 by
    *     construction, for ANY data distribution. On clustered corpora
    *     (the realistic near-dup case, tight θ_t) this prunes most of
    *     the k² combinations; on adversarially uniform data it
    *     degrades to the exact blocked join, never below recall 1.
    *  3. Exact verify: `vec_dot` cosine on the ORIGINAL vectors, the
    *     bit-identical expression the brute-force oracle twin uses —
    *     so the gate hash-match is preserved.
    *
    * The join is an equi-join on sub-block-pair keys. A dominant
    * cluster (homogeneous corpora collapse into few clusters) would
    * otherwise put its whole O(n_c²) diagonal on ONE join key = one
    * task, so each cluster is further split into
    * `ceil(n_c / targetSubBlock)` hash sub-blocks and the pair space
    * is keyed by (cluster_a, sub_a, cluster_b, sub_b) — the same
    * triangle covering [[graft.ext.Dedup.jaccardPairsBySource]] uses
    * for blocks: off-diagonal unit pairs take all combinations,
    * the (same-cluster, same-sub) diagonal deduplicates by id order.
    * Replication stays the compatible-partner unit count; task sizes
    * are uniform regardless of cluster skew. At 100 TB, k scales
    * with corpus size (k ≈ √n keeps per-cluster work flat).
    */
  def cosineNearDupPairs(emb: DataFrame, threshold: Double,
      nClusters: Int = 0, lloydIters: Int = 2,
      targetSubBlock: Int = 256): DataFrame = {
    import graft.functions.VecDot.vec_dot
    val spark = emb.sparkSession
    val par = spark.sparkContext.defaultParallelism

    // original double vector + norm (for the exact verify) and the
    // unit-normalized vector (for clustering only)
    // Persisted MEMORY_AND_DISK: the quantizer makes several small
    // driver-action passes (seed collect, Lloyd updates, radii) plus
    // the two join sides — each would otherwise re-scan and
    // re-shuffle the corpus. Spark's CacheManager keys by logical
    // plan, so repeated calls over the same corpus share one entry;
    // registered with [[CorpusCache]], released at run boundaries
    // (see [[graft.ext.Dedup.minhashShingles]] for the contract).
    val prepped = CorpusCache.cache(emb.select(col("vec_id"),
        transform(col("embedding"), v => v.cast("double")).as("e"),
        sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, v) => acc + v.cast("double") * v.cast("double"))).as("nrm"))
      .withColumn("u", transform(col("e"), x => x / col("nrm")))
      .repartition(par)) // pin parallelism (see [[thresholdJoin]])

    def normalize(c: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0.0) c else c.map(_ / n)
    }
    // nClusters = 0 ⇒ √N auto-sizing (see [[autoNlist]]): per-cluster
    // population — and with it the quadratic same-cluster verify work —
    // then grows only as √N instead of linearly
    val k = if (nClusters > 0) nClusters
      else autoNlist(prepped.count(), 32)
    // deterministic init: first k vectors (unit-normalized)
    var centroids: Array[(Int, Seq[Double])] = prepped
      .orderBy(col("vec_id")).limit(k).collect()
      .zipWithIndex.map { case (r, i) => (i, normalize(r.getSeq[Double](3))) }
    if (centroids.isEmpty) return emb.sparkSession.emptyDataFrame
      .select(lit(0L).as("id_a"), lit(0L).as("id_b"), lit(0.0).as("sim"))
      .limit(0)
    // dimensionality comes from the DATA — a fixed parameter would
    // silently compute cluster angles on a projection (voiding the
    // recall guarantee) whenever real vectors are wider
    val dim = centroids(0)._2.length

    // one native k×d sweep — NOT array(vec_dot×k), whose plan size and
    // generated code scale with k (see [[graft.functions.CentroidScores]]);
    // argmax likewise native — the HOF form re-evaluates array_max per
    // element, O(k²) interpreted per row ([[graft.functions.ArgMaxDouble]])
    def scoresCol = graft.functions.CentroidScores.centroid_scores(
      col("u"), typedlit(centroids.map(_._2).toSeq))
    // argmax unit dot = nearest centroid by angle
    def clusterCol = graft.functions.ArgMaxDouble.arg_max_double(col("__scores"))

    for (_ <- 0 until lloydIters) {
      val means = prepped.withColumn("__scores", scoresCol)
        .withColumn("cluster", clusterCol)
        .groupBy(col("cluster"))
        .agg(array((0 until dim).map(d =>
          avg(element_at(col("u"), d + 1))): _*).as("centroid"))
        .collect().map(r => (r.getInt(0), normalize(r.getSeq[Double](1))))
      val byId = means.toMap
      centroids = centroids.map { case (i, c) => (i, byId.getOrElse(i, c)) }
    }

    // Persisted like `prepped` (r15): the k×d scoring sweep is the
    // family's dominant map-side CPU and this frame feeds THREE+
    // consumers per call (radii/count stats, BOTH verify-join sides) —
    // unpersisted, each re-ran the full centroid scoring over the
    // corpus (profiled ~8–10 s of task time per extra pass at sf0.1;
    // same-window A/B: −0.3/−0.5 s wall on the two cosine gates).
    // Same CacheManager plan-keyed lifecycle as `prepped`.
    val assigned = CorpusCache.cache(
      prepped.withColumn("__scores", scoresCol)
        .withColumn("cluster", clusterCol)
        .withColumn("center_cos",
          least(greatest(array_max(col("__scores")), lit(-1.0)), lit(1.0)))
        .select(col("vec_id"), col("e"), col("nrm"), col("cluster"),
          acos(col("center_cos")).as("center_angle")))

    // k angular radii + member counts — inherently tiny driver state,
    // like the centroids
    val stats: Map[Int, (Double, Long)] = assigned.groupBy(col("cluster"))
      .agg(max(col("center_angle")).as("r"), count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val nsub: Map[Int, Int] = stats.map { case (i, (_, n)) =>
      i -> math.max(1, math.ceil(n.toDouble / targetSubBlock).toInt) }
    val thetaT = math.acos(math.min(1.0, math.max(-1.0, threshold)))
    def angle(x: Seq[Double], y: Seq[Double]): Double = {
      val d = x.zip(y).map { case (a, b) => a * b }.sum
      math.acos(math.min(1.0, math.max(-1.0, d)))
    }
    // compatible cluster pairs, expanded to sub-block units: all
    // (si, sj) combos off-diagonal, the si ≤ sj triangle on the
    // diagonal — every unordered vector pair lands in exactly one unit
    val compatUnits = for {
      (i, ci) <- centroids.toSeq; (j, cj) <- centroids.toSeq
      if i <= j && stats.contains(i) && stats.contains(j)
      if angle(ci, cj) <= stats(i)._1 + stats(j)._1 + thetaT + 1e-9
      si <- 0 until nsub(i); sj <- 0 until nsub(j)
      if i < j || si <= sj
    } yield (i, si, j, sj)
    import spark.implicits._
    val compatDf = compatUnits.toDF("cluster_a", "sub_a", "cluster_b", "sub_b")

    val nsubCol = element_at(typedlit(nsub), col("cluster"))
    val withSub = assigned
      .withColumn("sub", pmod(xxhash64(col("vec_id")), nsubCol).cast("int"))
    val aSide = withSub
      .select(col("vec_id").as("id_a"), col("e").as("e_a"),
        col("nrm").as("n_a"), col("cluster").as("cluster_a"), col("sub").as("sub_a"))
      .join(broadcast(compatDf), Seq("cluster_a", "sub_a"))
    val bSide = withSub
      .select(col("vec_id").as("id_b"), col("e").as("e_b"),
        col("nrm").as("n_b"), col("cluster").as("cluster_b"), col("sub").as("sub_b"))
      .join(broadcast(compatDf), Seq("cluster_b", "sub_b"))
    val unitKeys = Seq("cluster_a", "sub_a", "cluster_b", "sub_b")
    // merge hint: both sides are the unit-replicated corpus and the
    // compat-join lineage defeats size estimation — left alone the
    // planner can BROADCAST the replicated b-side (driver-built hash
    // of the whole corpus; OOM at scale) — see
    // [[graft.ext.Dedup.jaccardPairsBySource]]'s join note
    aSide.repartition(par, unitKeys.map(col): _*)
      .join(bSide.hint("merge"), unitKeys)
      .filter(col("cluster_a") =!= col("cluster_b") ||
        col("sub_a") =!= col("sub_b") || col("id_a") < col("id_b"))
      .withColumn("sim", vec_dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")))
      .filter(col("sim") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        round(col("sim"), 6).as("sim"))
  }

  /** SemDeDup-style semantic deduplication (the rule-shape of Abbas
    * et al. 2023): embedding-cosine near-dup PAIRS →
    * connected-component CLUSTERS → one kept representative (min id)
    * per cluster. Emits the full keep-list — every vector with its
    * cluster representative and a keep flag — so a curation pipeline
    * can either filter (`keep = 1`) or audit what was removed and why
    * (`representative` names the survivor that shadowed it).
    *
    * Pure composition of two gated operators: the pair derivation is
    * [[cosineNearDupPairs]] (IVF candidates + triangle-inequality
    * pruning, recall 1.0 guaranteed, never an all-pairs join) and the
    * clustering is [[Dedup.connectedComponents]] (adaptive union-find
    * / pointer-jumping). The join-back is one id-keyed equi-join of
    * the corpus against the component labeling — at 100 TB both
    * stages are the already-rehearsed dedup paths, and the keep
    * decision is a pure function of the pair graph (no arrival-order
    * or partitioning dependence).
    */
  def semanticDedup(emb: DataFrame, threshold: Double): DataFrame = {
    val comp = Dedup.connectedComponents(
      cosineNearDupPairs(emb, threshold), "id_a", "id_b")
      .withColumnRenamed("node", "vec_id")
    emb.select(col("vec_id"))
      .join(comp, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("representative"))
      .withColumn("keep",
        (col("vec_id") === col("representative")).cast("int"))
  }

  /** IVF-style ANN (cluster-then-probe): the other scale path the
    * contract names besides LSH.
    *
    * Coarse quantizer: deterministic seeded centroids refined by a
    * few Lloyd iterations expressed AS DATAFRAME AGGREGATIONS (assign
    * = broadcast-centroid argmin map; update = groupBy(cluster) mean)
    * — no driver-side loops over data, only over the handful of
    * centroids collected per iteration (k × dim doubles, inherently
    * tiny). Probe: each query scans its `nprobe` nearest clusters
    * only — the corpus shuffle key is the cluster id, and search cost
    * drops by ~k/nprobe versus brute force.
    */
  def annIvf(emb: DataFrame, queries: DataFrame, k: Int,
      nClusters: Int = 0, nProbe: Int = 4, lloydIters: Int = 2): DataFrame =
    ivfTopK(ivfAssignments(emb, queries, nClusters, nProbe, lloydIters), k)

  /** Probe join + exact cosine top-k over a trained IVF model —
    * callable with [[ivfAssignmentsFor]]'s shared model. */
  def ivfTopK(model: (DataFrame, DataFrame), k: Int): DataFrame = {
    val (assignedCorpus, qProbes) = model
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    // probe side broadcast BY CONTRACT (queries × nprobe rows ≪
    // corpus); the corpus side must never be the build side
    broadcast(qProbes).join(assignedCorpus, "cluster")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("e_q"), col("e_c")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** Hard-negative mining for contrastive/embedding training: for
    * each query, the top-k most-similar corpus vectors whose LABEL
    * DIFFERS from the query's — "looks like it, isn't it", the
    * negatives that actually move a contrastive loss.
    *
    * Pure composition over the frozen IVF state: the probe join is
    * [[ivfTopK]]'s (bounded probe side broadcast BY CONTRACT, corpus
    * never the build side) with one extra predicate. Labels join in
    * as two id-keyed equi-joins: the query side against the bounded
    * probe list (broadcast build), the corpus side co-keyed on the
    * vector id — at scale the index state would simply STORE the
    * label beside the vector (one wide column) and that join
    * disappears; here the fixture's `embeddings` table is the store.
    */
  def hardNegatives(model: (DataFrame, DataFrame), labels: DataFrame,
      k: Int): DataFrame = {
    val (assignedCorpus, qProbes) = model
    val lab = labels.select(col("vec_id"), col("label"))
    val probesLab = broadcast(qProbes).join(
      lab.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("label", "label_q"), "query_id")
    val corpusLab = assignedCorpus.join(
      lab.withColumnRenamed("vec_id", "neighbor_id")
        .withColumnRenamed("label", "label_c"), "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    broadcast(probesLab).join(corpusLab, "cluster")
      .filter(col("query_id") =!= col("neighbor_id"))
      .filter(col("label_q") =!= col("label_c"))
      .withColumn("sim", cosine(col("e_q"), col("e_c")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("label_c").as("neg_label"), round(col("sim"), 6).as("sim"))
  }

  /** Embedding-space decontamination screen: flag corpus vectors
    * whose nearest EVAL-SET vector exceeds a cosine threshold — the
    * semantic-similarity twin of the n-gram `text_decontam` (which
    * catches verbatim leakage; this catches paraphrase leakage).
    * Returns every corpus row with its closest eval example, the
    * similarity, and the removal flag, so a curation report can show
    * WHY each document was dropped.
    *
    * Scale shape: the eval set is bounded by contract (benchmarks are
    * small) → broadcast nested-loop against the corpus scan, then the
    * per-vector argmax is a map-side-combined `max(struct)` — the
    * shuffle carries ONE narrow row per corpus vector per partition,
    * and nothing ever sorts. Ties break to the smaller eval id via
    * the negated-id struct field (exact-equality doubles only).
    */
  def evalDecontam(corpus: DataFrame, evalSet: DataFrame,
      threshold: Double): DataFrame = {
    import graft.functions.VecDot.vec_dot
    // norms once per ROW on each side, never per pair (the
    // [[thresholdJoin]] O(n·d)-not-O(n²·d) discipline); division
    // shape dot/(nₐ·nᵦ) stays syntactically the oracle's cosine
    val ev = withNorm(evalSet, "eval_id", "e_v", "n_v")
    corpus.select(col("vec_id"), col("label"),
        transform(col("embedding"), v => v.cast("double")).as("e"),
        sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, v) => acc + v.cast("double") * v.cast("double"))).as("n_e"))
      .crossJoin(broadcast(ev)) // |eval| candidates per corpus row, eval bounded
      .withColumn("sim",
        vec_dot(col("e"), col("e_v")) / (col("n_e") * col("n_v")))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(struct(col("sim"),
        (lit(0L) - col("eval_id")).as("neg"),
        col("eval_id").as("eval_id"))).as("m"))
      .select(col("vec_id"), col("label"),
        col("m.eval_id").as("closest_eval"),
        round(col("m.sim"), 6).as("sim"),
        (col("m.sim") >= lit(threshold)).cast("int").as("removed"))
  }

  /** The IVF model state, deterministic end-to-end: corpus cluster
    * assignments `(neighbor_id, e_c, cluster)` and per-query probe
    * lists `(query_id, e_q, cluster)`. Public so Verify can
    * materialize the id/cluster projections as aux inputs for the
    * DuckDB oracle (probe join + exact cosine top-k in SQL).
    *
    * Composed from the frozen-model pieces ([[ivfTrain]] →
    * [[ivfAssignCorpus]] + [[ivfProbes]]); an incremental deployment
    * calls those directly — train rarely, keep the assigned corpus as
    * bucketed state, and run only [[ivfProbes]] + [[ivfTopK]] per
    * ingest batch (cost proportional to the batch, pinned by the
    * `ann_ivf_ingest` ladder rung).
    */
  def ivfAssignments(emb: DataFrame, queries: DataFrame,
      nClusters: Int = 0, nProbe: Int = 4,
      lloydIters: Int = 2): (DataFrame, DataFrame) = {
    val centroids = ivfTrain(emb, nClusters, lloydIters)
    (ivfAssignCorpus(centroids, emb), ivfProbes(centroids, queries, nProbe))
  }

  /** (id, double-vector) projection shared by train/assign/probe. */
  private def ivfCorpus(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      transform(col("embedding"), v => v.cast("double")).as("e"))

  /** argmin over squared distance ⇔ argmax of (2·dot − ‖c‖²);
    * reads the `__scores` column a prior ivfScored(...) projection
    * added (native one-pass argmax — see
    * [[graft.functions.ArgMaxDouble]]). */
  private def nearestClusterFromScores =
    graft.functions.ArgMaxDouble.arg_max_double(col("__scores"))

  private def ivfScored(centroids: Array[(Int, Seq[Double])],
      df: DataFrame, e: Column): DataFrame = {
    import graft.functions.VecDot.vec_dot
    val scores = centroids.map { case (_, c) =>
      val c2 = c.map(x => x * x).sum
      vec_dot(e, typedlit(c)) * 2.0 - lit(c2)
    }
    df.withColumn("__scores", array(scores: _*))
  }

  /** `nClusters = 0` ⇒ size the quantizer to the corpus:
    * `max(floor, ⌈√N⌉)`. ANN candidate work per query is
    * `(N / nlist) · nProbe`, so a FIXED nlist makes probe cost grow
    * linearly with the corpus — and total ANN cost quadratically when
    * the query side grows with it. √N keeps cluster population (and
    * per-query probe cost) growing only as √N, the standard IVF
    * sizing rule. Pinned by the sf1.0 canary: the fixed-16
    * incremental gate scaled 18× for 10× data before this.
    */
  private def autoNlist(n: Long, floor: Int): Int =
    math.max(floor, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Deterministic training subsample: Lloyd cost is
    * `iters × |train| × k`, and past a few hundred points per
    * centroid extra rows stop moving the means — hash-keep every
    * m-th vector targeting ~256·k training rows. Identity under the
    * threshold (every fixture/gate corpus), a pure function of
    * vec_id above it (re-trainable, no RNG state).
    */
  private def trainSample(corpus: DataFrame, n: Long, k: Int): DataFrame = {
    val m = n / (256L * k)
    if (m <= 1) corpus
    else corpus.filter(pmod(xxhash64(col("vec_id")), lit(m)) === 0)
  }

  /** Train the coarse quantizer: deterministic init (first nClusters
    * vectors by id) refined by `lloydIters` Lloyd rounds expressed as
    * DataFrame aggregations — the driver only ever holds the k × dim
    * centroid doubles. The returned array is the FROZEN model state an
    * incremental deployment retrains rarely and reuses every batch.
    */
  def ivfTrain(emb: DataFrame, nClusters: Int = 0,
      lloydIters: Int = 2): Array[(Int, Seq[Double])] = {
    val corpus = ivfCorpus(emb)
    val n = corpus.count()
    val k = if (nClusters > 0) nClusters else autoNlist(n, 16)
    val train = trainSample(corpus, n, k)
    // deterministic init: first k training vectors as seeds
    var centroids: Array[(Int, Seq[Double])] = train
      .orderBy(col("vec_id")).limit(k).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1)) }
    // dimensionality from the data, not a parameter (see
    // [[cosineNearDupPairs]])
    val dim = if (centroids.isEmpty) 0 else centroids(0)._2.length
    // empty corpus ⇒ empty model: the Lloyd rounds would otherwise
    // build a zero-arm score array (array<null>, analysis error)
    if (centroids.isEmpty) return centroids
    for (_ <- 0 until lloydIters) {
      val assigned = ivfScored(centroids, train, col("e"))
        .withColumn("cluster", nearestClusterFromScores)
      val means = assigned.groupBy(col("cluster"))
        .agg(array((0 until dim).map(d =>
          avg(element_at(col("e"), d + 1))): _*).as("centroid"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
      // keep old centroid for any emptied cluster
      val byId = means.toMap
      centroids = centroids.map { case (i, c) => (i, byId.getOrElse(i, c)) }
    }
    centroids
  }

  /** Assign a corpus to frozen centroids: the write-once bucketed
    * index state `(neighbor_id, e_c, cluster)`. An EMPTY model (zero
    * training vectors) assigns nothing — guarded because a zero-arm
    * `array()` of scores types as array<null> and fails analysis, not
    * execution. */
  def ivfAssignCorpus(centroids: Array[(Int, Seq[Double])],
      emb: DataFrame): DataFrame =
    if (centroids.isEmpty)
      ivfCorpus(emb).filter(lit(false))
        .select(col("vec_id").as("neighbor_id"), col("e").as("e_c"),
          lit(0).as("cluster"))
    else ivfScored(centroids, ivfCorpus(emb), col("e"))
      .withColumn("cluster", nearestClusterFromScores)
      .select(col("vec_id").as("neighbor_id"), col("e").as("e_c"), col("cluster"))

  /** Per-query probe lists against frozen centroids: the nProbe best
    * clusters per query — the only per-batch derivation an
    * incremental ingest runs. */
  def ivfProbes(centroids: Array[(Int, Seq[Double])], queries: DataFrame,
      nProbe: Int = 4): DataFrame = {
    val qPrepped = queries.select(col("vec_id").as("query_id"),
      transform(col("embedding"), v => v.cast("double")).as("e_q"))
    if (centroids.isEmpty)
      return qPrepped.filter(lit(false)).withColumn("cluster", lit(0))
    ivfScored(centroids, qPrepped, col("e_q"))
      .select(col("query_id"), col("e_q"),
        posexplode(slice(array_sort(
          // sort (score, cluster) descending by score via negated score
          array(centroids.indices.map(i =>
            struct((element_at(col("__scores"), i + 1) * -1.0).as("ns"),
              lit(i).as("cluster"))): _*)), 1, nProbe))
          .as(Seq("p", "probe")))
      .select(col("query_id"), col("e_q"), col("probe.cluster").as("cluster"))
  }

  /** ANN via product quantization (IVF-ADC family): the COMPRESSED
    * scale path. Vectors are encoded as `m` sub-space code bytes
    * (here `m` ints for simplicity) against per-sub-space codebooks of
    * `kSub` centroids; a query scans codes with
    * [[graft.functions.PqAdc]] — one lookup-add per sub-space instead
    * of a d-dim dot product (d/m × less arithmetic, and at rest the
    * corpus shrinks from d floats to m codes per vector: the reason
    * PQ is the standard 100 TB ANN layout) — then exactly re-ranks
    * the top `k × rerankFactor` candidates with `vec_dot` on the
    * full vectors (fetched by id join: only candidates are ever
    * decompressed).
    *
    * Codebook training = per-sub-space k-means, Lloyd steps as ONE
    * exploded `groupBy (subspace, code)` aggregation per iteration
    * (all sub-spaces in a single shuffle); assignment = euclidean
    * argmin via the augmented-dimension trick
    * (`argmin ‖x−c‖² = argmax dot(x⊕1, c⊕(−‖c‖²/2))`) so the native
    * [[graft.functions.CentroidScores]]/[[graft.functions.ArgMaxDouble]]
    * pair does the whole assignment.
    *
    * Approximate (quantization error) ⇒ rows-only at the gate;
    * recall vs [[bruteTopK]] asserted in ExtSpec.
    */
  def annPq(emb: DataFrame, queries: DataFrame, k: Int,
      m: Int = PqM, kSub: Int = 16, lloydIters: Int = 2,
      rerankFactor: Int = PqRerank): DataFrame = {
    pqTopK(emb, pqModel(emb, queries, m, kSub, lloydIters), queries, k, rerankFactor)
  }

  /** ADC scan + exact re-rank over a trained PQ model — callable with
    * [[pqModelFor]]'s shared model. */
  def pqTopK(emb: DataFrame,
      model: Option[(DataFrame, DataFrame, Seq[Seq[Double]])],
      queries: DataFrame, k: Int, rerankFactor: Int = PqRerank): DataFrame = {
    import graft.functions.{PqAdc, VecDot}
    val spark = emb.sparkSession
    model match {
      case None =>
        spark.emptyDataFrame.select(lit(0L).as("query_id"),
          lit(0).as("rank"), lit(0L).as("neighbor_id"), lit(0.0).as("sim")).limit(0)
      case Some((codes, qTables, normTable)) =>
        // ADC scan: lookup-adds over codes, no full vectors touched
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("approx_cos").desc, col("neighbor_id"))
        // qTables is queries × (m·kSub doubles): broadcast holds
        // through the PqMaxDriverQueries contract (~4k queries ≈ 4 MB)
        // and well past it; a query batch too big to broadcast should
        // be chunked by the caller — the scan is queries × corpus work
        // by definition, and chunking keeps each pass broadcast-shaped
        val cand = codes.join(broadcast(qTables),
            col("query_id") =!= col("neighbor_id"))
          .withColumn("approx_cos",
            PqAdc.pq_adc(col("codes"), col("dot_table")) /
              (sqrt(PqAdc.pq_adc(col("codes"), typedlit(normTable))) * col("n_q")))
          .withColumn("crank", row_number().over(w))
          .filter(col("crank") <= k * rerankFactor)
          .select(col("query_id"), col("neighbor_id"))

        // exact re-rank: only candidates are decompressed (id join back)
        exactRerank(emb, queries, cand, k)
    }
  }

  /** Exact cosine re-rank of a bounded candidate list — the shared
    * tail of [[pqTopK]] and [[ivfPqTopK]]. `cand` is bounded
    * (≤ queries × k × rerankFactor rows): broadcast it explicitly so
    * the full-width corpus is the streamed side at any scale; only
    * candidates are ever decompressed (id join back). */
  private def exactRerank(emb: DataFrame, queries: DataFrame,
      cand: DataFrame, k: Int): DataFrame = {
    import graft.functions.VecDot
    val corpus = withNorm(emb, "vec_id", "e", "nrm")
    val qFull = withNorm(queries, "query_id", "e_q", "n_q")
    val rw = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_exact").desc, col("neighbor_id"))
    broadcast(cand).join(corpus.select(col("vec_id").as("neighbor_id"),
        col("e").as("e_c"), col("nrm").as("n_c")), "neighbor_id")
      .join(broadcast(qFull), "query_id")
      .withColumn("sim_exact",
        VecDot.vec_dot(col("e_q"), col("e_c")) / (col("n_q") * col("n_c")))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim_exact"), 6).as("sim"))
  }

  /** The trained PQ model, deterministic end-to-end: encoded corpus
    * `(neighbor_id, codes)`, per-query ADC lookup tables
    * `(query_id, n_q, dot_table)`, and the shared `norm_table`
    * (Σ c², per sub-space × code). Public so Verify can materialize
    * all three as aux inputs for the DuckDB oracle, which re-runs the
    * ADC scan + exact re-rank in SQL. None when the corpus is empty.
    */
  def pqModel(emb: DataFrame, queries: DataFrame,
      m: Int = PqM, kSub: Int = 16, lloydIters: Int = 2)
      : Option[(DataFrame, DataFrame, Seq[Seq[Double]])] = {
    val spark = emb.sparkSession
    val corpus = CorpusCache.cache(withNorm(emb, "vec_id", "e", "nrm")
      .repartition(spark.sparkContext.defaultParallelism)) // see [[thresholdJoin]]

    val trained = pqTrainBooksOn(corpus, m, kSub, lloydIters)
    if (trained.isEmpty) return None
    val (books, dSub) = trained.get

    // encoded corpus: the slim frame a PQ scan reads (id + m codes)
    val codes = corpus.select(col("vec_id").as("neighbor_id"),
      pqCodesCol(books, m, dSub).as("codes"))

    // per-query lookup tables — dispatch on query-batch size:
    //  ≤ [[PqMaxDriverQueries]]: driver-built (the gate contract —
    //  a handful of broadcast queries; unchanged path, shared with
    //  the sim_ann_pq oracle aux). Above: the SAME tables as one
    //  distributed centroid_scores projection per sub-space — the
    //  codebook is a tiny foldable literal (m × kSub × dSub doubles),
    //  so a 100k-query batch never funnels through the driver.
    //  Branch equality is unit-tested on fixed codebooks (ExtSpec);
    //  the distributed branch's 100k-query record is in BASELINE.md.
    val qNorm = withNorm(queries, "query_id", "e_q", "n_q")
    val probe = qNorm.limit(PqMaxDriverQueries + 1).collect()
    val qTables =
      if (probe.length <= PqMaxDriverQueries)
        pqDotTablesDriver(spark, probe.toSeq, books, m, dSub)
      else pqDotTablesDistributed(qNorm, books, m, dSub)
    val normTable = (0 until m).map(s =>
      books(s).map(c => c.map(x => x * x).sum).toSeq).toSeq
    Some((codes, qTables, normTable))
  }

  /** PQ codebook training on any `(vec_id, e double-array, …)` frame
    * — seeds from the first `kSub` rows by id, `lloydIters`
    * distributed sub-space Lloyd rounds (one posexplode sweep + a
    * kSub·m-bounded collect per round). Returns (books, dSub); None
    * on an empty frame. Extracted from [[pqModel]] so [[ivfPqModel]]
    * trains the identical way on RESIDUAL vectors. */
  private[ext] def pqTrainBooksOn(corpus: DataFrame, m: Int, kSub: Int,
      lloydIters: Int): Option[(Array[Array[Seq[Double]]], Int)] = {
    val eIdx = corpus.columns.indexOf("e")
    val seeds = corpus.orderBy(col("vec_id")).limit(kSub).collect()
      .map(_.getSeq[Double](eIdx))
    if (seeds.isEmpty) return None
    val dim = seeds(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m sub-spaces")
    val dSub = dim / m

    // books(s)(j): sub-centroid j of sub-space s
    var books: Array[Array[Seq[Double]]] = Array.tabulate(m)(s =>
      seeds.map(v => v.slice(s * dSub, (s + 1) * dSub)).toArray)

    for (_ <- 0 until lloydIters) {
      val updated = corpus.select(
          posexplode(array((0 until m).map(s =>
            struct(lit(s).as("s"), pqCodeCol(books, s, dSub).as("code"),
              slice(col("e"), s * dSub + 1, dSub).as("sub"))): _*))
            .as(Seq("p", "sc")))
        .groupBy(col("sc.s").as("s"), col("sc.code").as("code"))
        .agg(array((0 until dSub).map(d =>
          avg(element_at(col("sc.sub"), d + 1))): _*).as("centroid"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
      books = Array.tabulate(m)(s => Array.tabulate(kSub)(j =>
        updated.getOrElse((s, j), books(s)(j))))
    }
    Some((books, dSub))
  }

  /** Sub-space code assignment over the `e` column — augmented
    * argmax: argmax dot(e_s ⊕ 1, c ⊕ −‖c‖²/2) ⇔ argmin ‖e_s − c‖². */
  private[ext] def pqCodeCol(books: Array[Array[Seq[Double]]], s: Int,
      dSub: Int): Column = {
    import graft.functions.{ArgMaxDouble, CentroidScores}
    val aug = books(s).map(c => c :+ (-c.map(x => x * x).sum / 2)).toSeq
    ArgMaxDouble.arg_max_double(CentroidScores.centroid_scores(
      concat(slice(col("e"), s * dSub + 1, dSub), array(lit(1.0))),
      typedlit(aug)))
  }

  /** The m-code array a PQ scan stores per vector. */
  private[ext] def pqCodesCol(books: Array[Array[Seq[Double]]], m: Int,
      dSub: Int): Column =
    array((0 until m).map(s => pqCodeCol(books, s, dSub)): _*)

  /** IVF-PQ composed model (VERDICT r13 #3) — the memory-true 100 TB
    * ANN serving shape. Plain IVF probes RAW vectors (the index IS
    * the full-width corpus); plain PQ ADC-scans the WHOLE corpus
    * (N·m lookups per query). Composed: the IVF coarse quantizer
    * (√N sizing, [[ivfTrain]]) partitions the corpus into lists, each
    * vector stores only its PQ codes of the RESIDUAL (vector − its
    * list centroid — residuals concentrate around 0, so the same
    * codebook budget quantizes them far tighter than raw vectors)
    * plus one exact norm, and a query ADC-scans just its nProbe
    * probed lists before an exact re-rank of the short list. Index
    * memory: m bytes + 8 per vector; per-query work: ~nProbe/nlist of
    * the corpus — that is what makes the memory math work at scale.
    *
    * Candidate scoring is approximate DOT decomposed through the
    * residual — dot(q, e) ≈ dot(q, c) + Σₛ dot(q_s, book_s[code_s])
    * — over the exact norms: approx_cos = (q·c + ADC) / (‖q‖·‖e‖).
    * `dot(q, c)` is computed ONCE per (query, probed list) and stored
    * on the probe row, so both engines read the same double (the
    * dot_table discipline).
    *
    * Deterministic end-to-end given the trained state; Verify
    * materializes all three frames as aux and the DuckDB oracle
    * re-runs probe-filtered ADC + exact re-rank in SQL. Returns
    * (codes(neighbor_id, cluster, codes, n_c),
    *  probes(query_id, cluster, q_dot_c),
    *  qTables(query_id, n_q, dot_table)); None on an empty corpus.
    */
  def ivfPqModel(emb: DataFrame, queries: DataFrame, m: Int = PqM,
      kSub: Int = 16, lloydIters: Int = 2, nClusters: Int = 0,
      nProbe: Int = 4): Option[(DataFrame, DataFrame, DataFrame)] = {
    import graft.functions.VecDot.vec_dot
    val spark = emb.sparkSession
    val centroids = ivfTrain(emb, nClusters, lloydIters)
    if (centroids.isEmpty) return None
    val centroidSeq: Seq[Seq[Double]] = centroids.sortBy(_._1).map(_._2).toSeq
    // assigned corpus with residuals + exact norms; cached — the
    // residual sub-codebook trainer scans it lloydIters+1 times
    val assigned = CorpusCache.cache(ivfAssignCorpus(centroids, emb)
      .withColumn("e", zip_with(col("e_c"),
        element_at(typedlit(centroidSeq), col("cluster") + 1),
        (a, b) => a - b))
      .withColumn("n_c", sqrt(aggregate(col("e_c"), lit(0.0),
        (acc, v) => acc + v * v)))
      .repartition(spark.sparkContext.defaultParallelism))
    pqTrainBooksOn(assigned.select(col("neighbor_id").as("vec_id"),
        col("e")), m, kSub, lloydIters).map { case (books, dSub) =>
      // the slim index frame: id, list, m residual codes, one norm
      val codes = assigned.select(col("neighbor_id"), col("cluster"),
        pqCodesCol(books, m, dSub).as("codes"), col("n_c"))
      val probes = ivfProbes(centroids, queries, nProbe)
        .withColumn("q_dot_c", vec_dot(col("e_q"),
          element_at(typedlit(centroidSeq), col("cluster") + 1)))
        .select(col("query_id"), col("cluster"), col("q_dot_c"))
      // per-query ADC tables over the RESIDUAL books — same
      // size-dispatch as [[pqModel]]
      val qNorm = withNorm(queries, "query_id", "e_q", "n_q")
      val probe = qNorm.limit(PqMaxDriverQueries + 1).collect()
      val qTables =
        if (probe.length <= PqMaxDriverQueries)
          pqDotTablesDriver(spark, probe.toSeq, books, m, dSub)
        else pqDotTablesDistributed(qNorm, books, m, dSub)
      (codes, probes, qTables)
    }
  }

  /** Probe-filtered ADC scan + exact re-rank over a composed IVF-PQ
    * model. The probe and table sides broadcast BY CONTRACT (bounded
    * by queries × nProbe and queries × m·kSub doubles); the codes
    * frame — the only corpus-sized input — streams through the
    * cluster-keyed join, and at scale it is cluster-bucketed state so
    * the probe join prunes to the probed lists' buckets. */
  def ivfPqTopK(emb: DataFrame,
      model: Option[(DataFrame, DataFrame, DataFrame)],
      queries: DataFrame, k: Int, rerankFactor: Int = PqRerank): DataFrame = {
    import graft.functions.PqAdc
    val spark = emb.sparkSession
    model match {
      case None =>
        spark.emptyDataFrame.select(lit(0L).as("query_id"),
          lit(0).as("rank"), lit(0L).as("neighbor_id"), lit(0.0).as("sim")).limit(0)
      case Some((codes, probes, qTables)) =>
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("approx_cos").desc, col("neighbor_id"))
        val cand = broadcast(probes).join(codes, "cluster")
          .filter(col("query_id") =!= col("neighbor_id"))
          .join(broadcast(qTables), "query_id")
          .withColumn("approx_cos",
            (col("q_dot_c") + PqAdc.pq_adc(col("codes"), col("dot_table"))) /
              (col("n_q") * col("n_c")))
          .withColumn("crank", row_number().over(w))
          .filter(col("crank") <= k * rerankFactor)
          .select(col("query_id"), col("neighbor_id"))
        exactRerank(emb, queries, cand, k)
    }
  }

  /** Contract bound for driver-built per-query ADC tables: below it
    * the collect costs less than a job launch; above it [[pqModel]]
    * builds the identical tables distributed.
    */
  val PqMaxDriverQueries = 4096

  /** Driver-side ADC table build over collected query rows
    * `(query_id, e_q, n_q)` — the small-batch branch.
    */
  private[graft] def pqDotTablesDriver(spark: SparkSession,
      qRows: Seq[org.apache.spark.sql.Row],
      books: Array[Array[Seq[Double]]], m: Int, dSub: Int): DataFrame = {
    import spark.implicits._
    qRows.map { r =>
      val (qid, q, nq) = (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))
      (qid, nq, (0 until m).map(s => books(s).map(c =>
        c.zip(q.slice(s * dSub, (s + 1) * dSub)).map { case (a, b) => a * b }.sum
      ).toSeq).toSeq)
    }.toDF("query_id", "n_q", "dot_table")
  }

  /** Distributed ADC table build: per sub-space, one
    * [[graft.functions.CentroidScores]] sweep of the query sub-vector
    * against the (foldable-literal) codebook — bit-identical to the
    * driver fold (same sequential accumulation order), as a narrow
    * codegen projection over the query frame.
    */
  private[graft] def pqDotTablesDistributed(qNorm: DataFrame,
      books: Array[Array[Seq[Double]]], m: Int, dSub: Int): DataFrame = {
    import graft.functions.CentroidScores
    qNorm.select(col("query_id"), col("n_q"),
      array((0 until m).map(s =>
        CentroidScores.centroid_scores(
          slice(col("e_q"), s * dSub + 1, dSub),
          typedlit(books(s).toSeq))): _*).as("dot_table"))
  }

  // ------------------------------------------------------------ queries

  /** Query vectors: the first 5 ids — deterministic, tiny, broadcast.
    * Public so Verify's aux builders probe the same set. */
  def querySet(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < GateQueryCut)

  // ---- shared fixture-keyed models -------------------------------------
  // The gate query AND the aux builders must consume the SAME trained
  // model: Lloyd's means come from floating-point DataFrame aggregation,
  // and while the merge order is deterministic in practice, training
  // twice and assuming ulp-identical centroids is a gate-coherence bet
  // we don't need to make (it would also triple Verify's training cost).
  // Keyed by (session, fixture dir); models are tiny (centroids/codes
  // stay distributed — only the handles live here).
  private val ivfMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (DataFrame, DataFrame)]()
  private val ivfIncMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (DataFrame, DataFrame)]()
  private val pqMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Option[(DataFrame, DataFrame, Seq[Seq[Double]])]]()
  private val ivfPqMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Option[(DataFrame, DataFrame, DataFrame)]]()
  private val ivfPqIncMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Option[(DataFrame, DataFrame, DataFrame)]]()

  /** IVF assignments for the fixture at `dir`, trained once per
    * (session, dir) and shared between the `sim_ann_ivf` gate query
    * and the aux materialization. */
  def ivfAssignmentsFor(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    ivfMemo.computeIfAbsent((spark, dir), { _ =>
      val emb = Tables.embeddings(spark, dir)
      ivfAssignments(emb, querySet(emb))
    })

  /** The incremental-ingest split of the embeddings fixture: vec_id
    * ≡ 0 (mod 3) is the NEW batch, the rest the indexed HISTORY —
    * the vector-side twin of [[Dedup.minhashPairsAgainst]]'s corpus
    * split. Public so the gate and aux builders share it. */
  def ingestSplit(emb: DataFrame): (DataFrame, DataFrame) =
    (emb.filter(col("vec_id") % 3 =!= 0),
      emb.filter(col("vec_id") % 3 === 0))

  /** Incremental ANN ingest model: centroids trained on HISTORY
    * ONLY, the new batch assigned to those FROZEN centroids as probe
    * lists — the production pattern (retrain rarely, assign every
    * batch; a batch never re-pairs history with itself, and at scale
    * the history side is precomputed cluster-bucketed state, so
    * per-ingest cost is batch-proportional). [[ivfAssignments]]
    * already has exactly this asymmetry: the corpus argument trains,
    * the queries argument is only ever assigned. Trained once per
    * (session, dir) and shared with the aux materialization.
    *
    * Search is [[ivfTopK]]'s probe join: its broadcast hint holds
    * while the ingest batch is broadcast-sized (gate contract); a
    * bulk backfill would drop the hint and let the cluster-keyed
    * equi-join shuffle both sides.
    */
  def ivfIncrementalFor(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    ivfIncMemo.computeIfAbsent((spark, dir), { _ =>
      val (hist, newBatch) = ingestSplit(Tables.embeddings(spark, dir))
      ivfAssignments(hist, newBatch)
    })

  /** PQ model for the fixture at `dir`, trained once per
    * (session, dir) and shared between the `sim_ann_pq` gate query
    * and the aux materialization. */
  def pqModelFor(spark: SparkSession, dir: String)
      : Option[(DataFrame, DataFrame, Seq[Seq[Double]])] =
    pqMemo.computeIfAbsent((spark, dir), { _ =>
      val emb = Tables.embeddings(spark, dir)
      pqModel(emb, querySet(emb))
    })

  /** IVF-PQ model for the fixture at `dir`, trained once per
    * (session, dir) and shared between the `sim_ann_ivfpq` /
    * `sim_ivfpq_recall` gate queries and the aux materialization. */
  def ivfPqModelFor(spark: SparkSession, dir: String)
      : Option[(DataFrame, DataFrame, DataFrame)] =
    ivfPqMemo.computeIfAbsent((spark, dir), { _ =>
      val emb = Tables.embeddings(spark, dir)
      ivfPqModel(emb, querySet(emb))
    })

  /** Incremental IVF-PQ ingest model: the coarse quantizer, residual
    * codebooks, and codes all come from HISTORY ONLY; the new batch
    * is only ever assigned probe lists + ADC tables against that
    * frozen state — [[ivfIncrementalFor]]'s asymmetry composed with
    * the PQ compression, which is precisely the production serving
    * loop (retrain rarely; per ingest batch: probe + ADC + re-rank,
    * cost proportional to the batch against an m+8-bytes/vector
    * index). [[ivfPqModel]] already has the asymmetry: the corpus
    * argument trains and encodes, the queries argument is only ever
    * assigned. Trained once per (session, dir), shared with aux. */
  def ivfPqIncrementalFor(spark: SparkSession, dir: String)
      : Option[(DataFrame, DataFrame, DataFrame)] =
    ivfPqIncMemo.computeIfAbsent((spark, dir), { _ =>
      val (hist, newBatch) = ingestSplit(Tables.embeddings(spark, dir))
      ivfPqModel(hist, newBatch)
    })

  /** Truncation widths the Matryoshka evaluation measures. */
  val MatryoshkaDims: Seq[Int] = Seq(4, 8, 16, 32)

  /** Matryoshka-truncation retrieval evaluation: recall@k of brute
    * cosine top-k computed on the FIRST d dimensions against the
    * full-dimension truth, per truncation width — the storage/quality
    * trade a vector store actually tunes (prefix slicing is the
    * Matryoshka deployment pattern; for embeddings not trained that
    * way the gate MEASURES what truncation loses rather than assuming
    * it). One broadcast-NL scoring pass per width over the bounded
    * query set (the sim_brute_topk shape ×|dims|); the recall join is
    * (query, neighbor)-keyed over k·|queries| rows — trivial.
    */
  def matryoshkaRecall(emb: DataFrame,
      dims: Seq[Int] = MatryoshkaDims, k: Int = GateK): DataFrame = {
    val full = bruteTopK(emb, querySet(emb), k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__t"))
    val perDim = dims.map { d =>
      val sliced = emb.select(col("vec_id"),
        slice(col("embedding"), 1, d).as("embedding"))
      bruteTopK(sliced, sliced.filter(col("vec_id") < GateQueryCut), k)
        .select(lit(d).as("dim"), col("query_id"), col("neighbor_id"))
    }.reduce(_ unionByName _)
    perDim.join(full, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("dim"), col("query_id"))
      .agg(sum(coalesce(col("__t"), lit(0))).cast("long").as("n_hit"))
      .withColumn("recall_x100", expr(s"(n_hit * 100) div $k"))
      .orderBy(col("dim"), col("query_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_matryoshka_recall" -> ((s, d) =>
      matryoshkaRecall(Tables.embeddings(s, d))),
    "sim_threshold_join" -> ((s, d) =>
      thresholdJoin(Tables.embeddings(s, d), threshold = 0.3)
        .orderBy(col("id_a"), col("id_b"))),
    "sim_brute_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      bruteTopK(emb, querySet(emb), k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),
    "sim_ann_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      annLsh(emb, querySet(emb), k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),
    // both consume the (session, dir)-shared trained model, the same
    // one Verify materializes as aux — gate and oracle cannot diverge
    // through a second training
    "sim_ann_ivf" -> ((s, d) =>
      ivfTopK(ivfAssignmentsFor(s, d), k = GateK)
        .orderBy(col("query_id"), col("rank"))),
    // incremental ingest: the new batch searches the history-trained
    // index only — neighbors always come from history, never the batch
    "sim_ann_ivf_incremental" -> ((s, d) =>
      ivfTopK(ivfIncrementalFor(s, d), k = GateK)
        .orderBy(col("query_id"), col("rank"))),
    "sim_ann_pq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      pqTopK(emb, pqModelFor(s, d), querySet(emb), k = GateK)
        .orderBy(col("query_id"), col("rank"))
    }),
    // the COMPOSED serving shape: IVF lists + residual PQ codes +
    // probe-filtered ADC + exact re-rank, over the (session, dir)-
    // shared model the aux builders also materialize
    "sim_ann_ivfpq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      ivfPqTopK(emb, ivfPqModelFor(s, d), querySet(emb), k = GateK)
        .orderBy(col("query_id"), col("rank"))
    }),
    // incremental ingest through the COMPOSED index: the new batch
    // probes the history-trained coarse quantizer, ADC-scans the
    // history's residual codes, re-ranks exactly — neighbors always
    // come from history, never the batch
    "sim_ann_ivfpq_incremental" -> ((s, d) => {
      val (hist, newBatch) = ingestSplit(Tables.embeddings(s, d))
      ivfPqTopK(hist, ivfPqIncrementalFor(s, d), newBatch, k = GateK)
        .orderBy(col("query_id"), col("rank"))
    }),
    // recall@k of the composed index vs the gated brute-force truth —
    // the row that sits beside sim_ivf_recall so the IVF → IVF-PQ
    // quality cost is a measured number, not an assumption
    "sim_ivfpq_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val ann = ivfPqTopK(emb, ivfPqModelFor(s, d), querySet(emb), k = GateK)
        .select(col("query_id"), col("neighbor_id"))
      val brute = bruteTopK(emb, querySet(emb), k = GateK)
        .select(col("query_id"), col("neighbor_id"))
      val hits = ann.join(brute, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      querySet(emb).select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("recall_x100", expr(s"(n_hit * 100) div $GateK"))
        .orderBy(col("query_id"))
    }),
    // hard negatives over the SAME shared IVF model (and the same aux)
    "sim_hard_negatives" -> ((s, d) =>
      hardNegatives(ivfAssignmentsFor(s, d), Tables.embeddings(s, d), k = GateK)
        .orderBy(col("query_id"), col("rank"))),
    // ANN quality eval: recall@k of the gated IVF index against the
    // gated brute-force exact top-k, per query — the acceptance
    // metric an ANN deployment is judged by, computed from the SAME
    // two operators the index gates run (no third derivation)
    "sim_ivf_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val ivf = ivfTopK(ivfAssignmentsFor(s, d), k = GateK)
        .select(col("query_id"), col("neighbor_id"))
      val brute = bruteTopK(emb, querySet(emb), k = GateK)
        .select(col("query_id"), col("neighbor_id"))
      val hits = ivf.join(brute, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      querySet(emb).select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("recall_x100", expr(s"(n_hit * 100) div $GateK"))
        .orderBy(col("query_id"))
    }),
    // eval set = vec_id ≡ 0 (mod 20); the rest is the screened corpus
    "decontam_embedding" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      evalDecontam(
        emb.filter(pmod(col("vec_id"), lit(DecontamEvalMod)) =!= 0),
        emb.filter(pmod(col("vec_id"), lit(DecontamEvalMod)) === 0),
        threshold = DecontamThreshold)
        .orderBy(col("vec_id"))
    })
  )

  /** Gate parameters shared between the Scala queries and the SQL
    * oracle text (which would otherwise carry silently-divergeable
    * magic numbers). */
  val GateK = 10
  val GateQueryCut = 5 // querySet: vec_id < 5
  val PqM = 8
  val PqRerank = 8
  val DecontamEvalMod = 20 // eval set: vec_id ≡ 0 (mod 20)
  // chosen where the fixture's eval-similarity tail actually sits
  // (max observed ≈0.49, p90 ≈0.33) so the flag bites without being
  // universal; a production screen tunes this to its eval suite
  val DecontamThreshold = 0.33

  /** The IVF-PQ candidate CTEs shared by the `sim_ann_ivfpq` and
    * `sim_ivfpq_recall` oracles: probe-filtered ADC scoring re-run
    * from the materialized model state (codes + probes with their
    * stored q·centroid dots + per-query tables), crank cut at
    * k·rerank — the independent SQL twin of [[ivfPqTopK]]'s scan. */
  private def ivfPqCandCtes: String = ivfPqCandCtes("ivfpq")

  private def ivfPqCandCtes(prefix: String): String =
    s"""codes AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/${prefix}_codes/*.parquet')),
       |p AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/${prefix}_probes/*.parquet')),
       |qt AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/${prefix}_qtables/*.parquet')),
       |scored AS (
       |  SELECT p.query_id, codes.neighbor_id,
       |         (p.q_dot_c + list_sum(list_transform(range(1, ${PqM + 1}),
       |           s -> qt.dot_table[s][codes.codes[s] + 1]))) /
       |         (qt.n_q * codes.n_c) AS approx_cos
       |  FROM p JOIN codes ON p.cluster = codes.cluster
       |       JOIN qt ON qt.query_id = p.query_id
       |  WHERE p.query_id != codes.neighbor_id),
       |cand AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY approx_cos DESC, neighbor_id) AS crank
       |  FROM scored) WHERE crank <= ${GateK * PqRerank})""".stripMargin

  /** DuckDB twins force DOUBLE[] so both engines do double-precision
    * sequential accumulation — results match to the last bit, surviving
    * round(…, 6).
    *
    * The ANN oracles consume Verify-materialized aux state (bucket /
    * cluster assignments, PQ codes + lookup tables) and independently
    * re-run candidate generation + exact re-rank in SQL: approximate
    * *recall* is a property of the assignments, but given the
    * assignments the result set is fully deterministic — so the gate
    * is an exact hash-match, and recall itself is asserted vs brute
    * force in ScalaTest.
    */
  val oracles: Map[String, String] = Map(
    "sim_ann_ivfpq" ->
      s"""WITH $ivfPqCandCtes
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
        |       round(sim, 6) AS sim FROM (
        |  SELECT cand.query_id, cand.neighbor_id,
        |         list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) AS sim,
        |         row_number() OVER (PARTITION BY cand.query_id
        |           ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) DESC,
        |                    cand.neighbor_id) AS rank
        |  FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
        |            JOIN embeddings ce ON ce.vec_id = cand.neighbor_id)
        |WHERE rank <= $GateK ORDER BY query_id, rank""".stripMargin,
    // same candidate CTEs over the incremental aux: given the
    // history-trained state the result set is fully deterministic,
    // so the gate is an exact hash-match here too
    "sim_ann_ivfpq_incremental" ->
      s"""WITH ${ivfPqCandCtes("ivfpq_inc")}
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
        |       round(sim, 6) AS sim FROM (
        |  SELECT cand.query_id, cand.neighbor_id,
        |         list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) AS sim,
        |         row_number() OVER (PARTITION BY cand.query_id
        |           ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) DESC,
        |                    cand.neighbor_id) AS rank
        |  FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
        |            JOIN embeddings ce ON ce.vec_id = cand.neighbor_id)
        |WHERE rank <= $GateK ORDER BY query_id, rank""".stripMargin,
    "sim_ivfpq_recall" ->
      s"""WITH $ivfPqCandCtes,
        |ann AS (SELECT query_id, neighbor_id FROM (
        |  SELECT cand.query_id, cand.neighbor_id,
        |         row_number() OVER (PARTITION BY cand.query_id
        |           ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) DESC,
        |                    cand.neighbor_id) AS rank
        |  FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
        |            JOIN embeddings ce ON ce.vec_id = cand.neighbor_id)
        |  WHERE rank <= $GateK),
        |brute AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c2.vec_id AS neighbor_id,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c2.embedding::DOUBLE[]) DESC,
        |                    c2.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c2 ON q.vec_id != c2.vec_id
        |  WHERE q.vec_id < $GateQueryCut)
        |  WHERE rank <= $GateK),
        |h AS (SELECT a.query_id, count(*) AS n_hit
        |      FROM ann a JOIN brute b
        |        ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
        |      GROUP BY 1)
        |SELECT q.vec_id AS query_id,
        |       coalesce(h.n_hit, 0) AS n_hit,
        |       (coalesce(h.n_hit, 0) * 100) // $GateK AS recall_x100
        |FROM embeddings q LEFT JOIN h ON h.query_id = q.vec_id
        |WHERE q.vec_id < $GateQueryCut
        |ORDER BY query_id""".stripMargin,
    "sim_ann_lsh" ->
      s"""WITH bk AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/lsh_buckets/*.parquet')),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |  FROM bk q JOIN bk c ON q.tbl = c.tbl AND q.bucket = c.bucket
        |  WHERE q.vec_id < $GateQueryCut AND q.vec_id != c.vec_id)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
        |       round(sim, 6) AS sim FROM (
        |  SELECT cand.query_id, cand.neighbor_id,
        |         list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) AS sim,
        |         row_number() OVER (PARTITION BY cand.query_id
        |           ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) DESC,
        |                    cand.neighbor_id) AS rank
        |  FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
        |            JOIN embeddings ce ON ce.vec_id = cand.neighbor_id)
        |WHERE rank <= $GateK ORDER BY query_id, rank""".stripMargin,
    "sim_ann_ivf" ->
      s"""WITH c AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/ivf_corpus/*.parquet')),
        |     p AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/ivf_probes/*.parquet'))
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
        |       round(sim, 6) AS sim FROM (
        |  SELECT p.query_id, c.neighbor_id,
        |         list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) AS sim,
        |         row_number() OVER (PARTITION BY p.query_id
        |           ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) DESC,
        |                    c.neighbor_id) AS rank
        |  FROM p JOIN c ON p.cluster = c.cluster
        |       JOIN embeddings qe ON qe.vec_id = p.query_id
        |       JOIN embeddings ce ON ce.vec_id = c.neighbor_id
        |  WHERE p.query_id != c.neighbor_id)
        |WHERE rank <= $GateK ORDER BY query_id, rank""".stripMargin,
    // same probe-join shape as sim_ann_ivf over the incremental aux:
    // given the (history-trained) assignments the result set is fully
    // deterministic, so the gate is an exact hash-match here too
    "sim_ann_ivf_incremental" ->
      s"""WITH c AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/ivf_inc_corpus/*.parquet')),
        |     p AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/ivf_inc_probes/*.parquet'))
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
        |       round(sim, 6) AS sim FROM (
        |  SELECT p.query_id, c.neighbor_id,
        |         list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) AS sim,
        |         row_number() OVER (PARTITION BY p.query_id
        |           ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) DESC,
        |                    c.neighbor_id) AS rank
        |  FROM p JOIN c ON p.cluster = c.cluster
        |       JOIN embeddings qe ON qe.vec_id = p.query_id
        |       JOIN embeddings ce ON ce.vec_id = c.neighbor_id
        |  WHERE p.query_id != c.neighbor_id)
        |WHERE rank <= $GateK ORDER BY query_id, rank""".stripMargin,
    "sim_ann_pq" ->
      s"""WITH codes AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/pq_codes/*.parquet')),
        |     qt AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/pq_tables/*.parquet')),
        |     nt AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/pq_norms/*.parquet')),
        |scored AS (
        |  SELECT qt.query_id, codes.neighbor_id,
        |         list_sum(list_transform(range(1, ${PqM + 1}),
        |           s -> qt.dot_table[s][codes.codes[s] + 1])) /
        |         (sqrt(list_sum(list_transform(range(1, ${PqM + 1}),
        |           s -> nt.norm_table[s][codes.codes[s] + 1]))) * qt.n_q) AS approx_cos
        |  FROM codes, qt, nt WHERE qt.query_id != codes.neighbor_id),
        |cand AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY approx_cos DESC, neighbor_id) AS crank
        |  FROM scored) WHERE crank <= ${GateK * PqRerank})
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
        |       round(sim, 6) AS sim FROM (
        |  SELECT cand.query_id, cand.neighbor_id,
        |         list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) AS sim,
        |         row_number() OVER (PARTITION BY cand.query_id
        |           ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) DESC,
        |                    cand.neighbor_id) AS rank
        |  FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
        |            JOIN embeddings ce ON ce.vec_id = cand.neighbor_id)
        |WHERE rank <= $GateK ORDER BY query_id, rank""".stripMargin,
    "sim_threshold_join" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(
        |         a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,
    // same probe-join shape + the label-mismatch predicate, over the
    // same ivf aux the sim_ann_ivf oracle consumes
    "sim_hard_negatives" ->
      s"""WITH c AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/ivf_corpus/*.parquet')),
        |     p AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/ivf_probes/*.parquet'))
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
        |       neg_label, round(sim, 6) AS sim FROM (
        |  SELECT p.query_id, c.neighbor_id, ce.label AS neg_label,
        |         list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) AS sim,
        |         row_number() OVER (PARTITION BY p.query_id
        |           ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) DESC,
        |                    c.neighbor_id) AS rank
        |  FROM p JOIN c ON p.cluster = c.cluster
        |       JOIN embeddings qe ON qe.vec_id = p.query_id
        |       JOIN embeddings ce ON ce.vec_id = c.neighbor_id
        |  WHERE p.query_id != c.neighbor_id AND qe.label != ce.label)
        |WHERE rank <= $GateK ORDER BY query_id, rank""".stripMargin,
    "decontam_embedding" ->
      s"""WITH ev AS (SELECT vec_id AS eval_id, embedding FROM embeddings
        |            WHERE vec_id % $DecontamEvalMod = 0),
        |co AS (SELECT vec_id, label, embedding FROM embeddings
        |       WHERE vec_id % $DecontamEvalMod != 0),
        |s AS (
        |  SELECT co.vec_id, co.label, ev.eval_id,
        |         list_cosine_similarity(co.embedding::DOUBLE[], ev.embedding::DOUBLE[]) AS sim,
        |         row_number() OVER (PARTITION BY co.vec_id
        |           ORDER BY list_cosine_similarity(co.embedding::DOUBLE[], ev.embedding::DOUBLE[]) DESC,
        |                    ev.eval_id) AS rn
        |  FROM co CROSS JOIN ev)
        |SELECT vec_id, label, eval_id AS closest_eval, round(sim, 6) AS sim,
        |       CAST(CASE WHEN sim >= $DecontamThreshold THEN 1 ELSE 0 END AS INTEGER) AS removed
        |FROM s WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // per-width truncated top-k re-derived by list slicing, recall
    // against the full-width truth — code-built SQL (one CTE per
    // width), no margins
    "sim_matryoshka_recall" -> {
      def topk(name: String, proj: String) =
        s"""$name AS (SELECT query_id, neighbor_id FROM (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |         row_number() OVER (PARTITION BY q.vec_id
           |           ORDER BY list_cosine_similarity($proj) DESC, c.vec_id) AS rank
           |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
           |  WHERE q.vec_id < $GateQueryCut)
           |  WHERE rank <= $GateK)""".stripMargin
      val dimCtes = MatryoshkaDims.map(d => topk(s"d$d",
        s"(q.embedding[1:$d])::DOUBLE[], (c.embedding[1:$d])::DOUBLE[]"))
      val unions = MatryoshkaDims.map(d =>
        s"SELECT $d AS dim, query_id, neighbor_id FROM d$d")
        .mkString("\nUNION ALL\n")
      s"""WITH ${topk("fullk",
          "q.embedding::DOUBLE[], c.embedding::DOUBLE[]")},
${dimCtes.mkString(",\n")},
allk AS (
$unions
),
h AS (SELECT a.dim, a.query_id,
             CAST(sum(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hit
      FROM allk a LEFT JOIN fullk f
        ON f.query_id = a.query_id AND f.neighbor_id = a.neighbor_id
      GROUP BY 1, 2)
SELECT dim, query_id, n_hit, (n_hit * 100) // $GateK AS recall_x100
FROM h ORDER BY dim, query_id"""
    },
    "sim_brute_topk" ->
      """SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
        |       round(sim, 6) AS sim FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |                    c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        |  WHERE q.vec_id < 5)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // the two oracle derivations above intersected per query: IVF@k
    // from the shared aux assignments, brute@k from the exact
    // self-join — integer hit counts, integer recall
    "sim_ivf_recall" ->
      s"""WITH c AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/ivf_corpus/*.parquet')),
         |     p AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/ivf_probes/*.parquet')),
         |ivf AS (SELECT query_id, neighbor_id FROM (
         |  SELECT p.query_id, c.neighbor_id,
         |         row_number() OVER (PARTITION BY p.query_id
         |           ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) DESC,
         |                    c.neighbor_id) AS rank
         |  FROM p JOIN c ON p.cluster = c.cluster
         |       JOIN embeddings qe ON qe.vec_id = p.query_id
         |       JOIN embeddings ce ON ce.vec_id = c.neighbor_id
         |  WHERE p.query_id != c.neighbor_id)
         |  WHERE rank <= $GateK),
         |brute AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, c2.vec_id AS neighbor_id,
         |         row_number() OVER (PARTITION BY q.vec_id
         |           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c2.embedding::DOUBLE[]) DESC,
         |                    c2.vec_id) AS rank
         |  FROM embeddings q JOIN embeddings c2 ON q.vec_id != c2.vec_id
         |  WHERE q.vec_id < $GateQueryCut)
         |  WHERE rank <= $GateK),
         |h AS (SELECT i.query_id, count(*) AS n_hit
         |      FROM ivf i JOIN brute b
         |        ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
         |      GROUP BY 1)
         |SELECT q.vec_id AS query_id,
         |       coalesce(h.n_hit, 0) AS n_hit,
         |       (coalesce(h.n_hit, 0) * 100) // $GateK AS recall_x100
         |FROM embeddings q LEFT JOIN h ON h.query_id = q.vec_id
         |WHERE q.vec_id < $GateQueryCut
         |ORDER BY query_id""".stripMargin
  )
}
