package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.SimHash64
import graft.sources.Tables

/** Deduplication operators for a training-data pipeline, over the
  * `documents` fixture table. Five families (builder-prompt contract):
  * exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard, and
  * embedding-cosine near-dup (the last lives in [[Similarity]]).
  *
  * Scale design notes (the point of each implementation choice):
  *  - Exact dedup keys on `(xxhash64(text), text)` — the hash spreads
  *    the shuffle; keeping the text in the key preserves exactness
  *    under 64-bit collisions, while map-side combine still collapses
  *    duplicates before they shuffle.
  *  - MinHash is computed with higher-order array functions
  *    (`transform`/`aggregate`) entirely inside codegen — the corpus
  *    is scanned once, producing `bands` small keys per doc; the only
  *    shuffle is on band keys (LSH's whole purpose: candidate
  *    generation without the O(n²) cross join).
  *  - SimHash is a custom native Catalyst expression
  *    ([[graft.functions.SimHash64]]) — one long per document.
  *  - Exact pairwise Jaccard runs only *within LSH buckets* (or an
  *    explicit blocking key) — never across the full corpus.
  */
object Dedup {

  /** Default exact-verify Jaccard threshold for the banded minhash
    * family ([[minhashPairs]]/[[minhashPairsAgainst]] and every
    * composition over them) — interpolated into each oracle that
    * re-runs the verify, so a default change can never desync the
    * SQL twins (the [[Sampling.DefaultJaccardThreshold]] /
    * [[Curation.DefaultQualityMin]] shared-constant pattern). */
  val DefaultMinhashThreshold = 0.5

  /** Normalized text: lowercase, collapse whitespace — the canonical
    * form for near-exact dedup.
    */
  def normText(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Whitespace tokens of lowercased text — single regex pass
    * (equivalent to splitting [[normText]] on spaces, one scan of the
    * string cheaper).
    */
  def tokensNorm(text: Column): Column =
    split(lower(trim(text)), "\\s+")

  // ----------------------------------------------------------- exact

  /** Exact dedup: one representative (min doc_id) per distinct text +
    * duplicate count.
    *
    * Grouping key is (hash, text), not hash alone: the hash gives the
    * shuffle good key distribution, and carrying the text makes the
    * result EXACT under 64-bit collisions (at billions of documents a
    * birthday collision is expected; hash-only grouping would silently
    * merge distinct texts). Map-side partial aggregation means the
    * shuffle still carries one row per distinct text per partition,
    * not per input row.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(xxhash64(col("text")).as("text_hash"), col("text"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("dup_count"))
      .drop("text")

  /** Per-codepoint NFKD decompositions of every distinct codepoint in
    * the corpus — the `nfkd_map` aux behind `dedup_exact_nfkc`: DuckDB
    * (which has no NFKC/NFKD primitive) folds these per document and
    * recomposes with its own `nfc_normalize`, which equals NFKC by
    * UAX#15. The explode is per-codepoint but the aggregate is the
    * corpus's distinct-CHARACTER set — a few thousand rows at any
    * corpus size; verification-time cost, not an operator. */
  def nfkdCodepointMap(docs: DataFrame): DataFrame =
    docs.select(explode(when(length(col("text")) > 0,
        transform(sequence(lit(1), length(col("text"))),
          i => col("text").substr(i, lit(1))))
        .otherwise(array().cast("array<string>"))).as("ch"))
      .distinct()
      .select(col("ch"),
        graft.functions.NfkcNormalize.nfkd_normalize(col("ch")).as("nfkd"))

  /** Exact dedup on a user key (first-by-doc_id per (lang, source)) —
    * the `dropDuplicates` surface, expressed as groupBy-min so the
    * result is deterministic (dropDuplicates keeps an arbitrary row).
    */
  def exactByKey(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"), col("source"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("group_size"))

  // --------------------------------------------------------- minhash

  /** MinHash signature over pre-hashed shingles: the expensive
    * variable-length string hash runs ONCE per shingle; each of the
    * `numHashes` "permutations" re-hashes the resulting 8-byte long
    * with a distinct seed (fixed-width xxhash64 — cheap, and ANSI-safe
    * where a hand-rolled odd-multiplier mixer would overflow-error
    * under Spark 4's default ANSI mode). 64 string hashes per shingle
    * → 1 string hash + 64 fixed-width hashes.
    */
  def minhashSignature(shingleHashes: Column, numHashes: Int): Column =
    // native one-pass form (r15 optimization) — bit-identical to
    //   array((0 until numHashes).map(s =>
    //     array_min(transform(shingleHashes, h => xxhash64(h, lit(s))))))
    // but without the k interpreted HOF passes and k array copies per
    // document (DedupSpec pins the equality property)
    graft.functions.MinhashSig64.minhash_sig64(shingleHashes, numHashes)

  /** The persisted featurized corpus (doc_id, sh): one narrow scan
    * computes shingle hashes (8-byte longs, never strings past this
    * point). Public as the aux input to the minhash DuckDB oracle.
    * Cache lifetime: Spark's CacheManager keys entries by LOGICAL
    * PLAN, so repeated calls over the same corpus share one entry
    * (measured: eagerly checkpoint-and-unpersist per call costs 7×).
    * The entry is registered with [[CorpusCache]]; run boundaries
    * (Verify/Bench/tests — and library callers ending a corpus
    * sweep) release it via [[CorpusCache.releaseAll]].
    */
  def minhashShingles(docs: DataFrame, shingleK: Int = 3): DataFrame =
    // sorted ONCE at featurization (r15): every per-pair consumer
    // (verify Jaccard here and in the streaming twin) intersects via
    // the allocation-free sorted merge [[graft.functions
    // .SortedIntersectCard]] instead of a per-pair hash set; the
    // signature/banding/posting consumers are order-insensitive.
    CorpusCache.cache(docs
      .select(col("doc_id"),
        array_sort(array_distinct(graft.functions.NgramHash64.ngram_hash64(
          tokensNorm(col("text")), shingleK))).as("sh"))
      .filter(size(col("sh")) > 0))

  /** Default LSH band count, shared by [[minhashBandKeys]],
    * [[minhashPairs]] and [[minhashPairsAgainst]]: ≤ docs ×
    * [[DefaultMinhashBands]] band rows per call. */
  val DefaultMinhashBands = 16

  /** (doc_id, band, band_key): the banded signature keys — the whole
    * LSH candidate-generation state, and the other aux input to the
    * minhash oracle. Band keys are a pure arithmetic combine of
    * signature slots (multi-arg xxhash64 over element_at picks —
    * measured 5 s cheaper at sf0.1 than formatting slots to strings).
    * The band shuffle carries ONLY (band, band_key, doc_id), never
    * the shingle arrays (which would multiply shuffle volume by
    * document size × bands).
    */
  def minhashBandKeys(docs: DataFrame,
      bands: Int = DefaultMinhashBands, rowsPerBand: Int = 4,
      shingleK: Int = 3): DataFrame = {
    val numHashes = bands * rowsPerBand
    minhashShingles(docs, shingleK)
      .select(col("doc_id"), minhashSignature(col("sh"), numHashes).as("sig"))
      .select(
        col("doc_id"),
        posexplode(array((0 until bands).map { b =>
          val slots = (0 until rowsPerBand)
            .map(r => element_at(col("sig"), b * rowsPerBand + r + 1))
          xxhash64(slots :+ lit(b): _*)
        }: _*)).as(Seq("band", "band_key")))
  }

  /** MinHash+LSH near-duplicate pairs.
    *
    * banding: `bands` bands of `rowsPerBand` signature slots; docs
    * sharing any band key are candidates; candidates are verified with
    * exact shingle-set Jaccard ≥ `threshold`.
    *
    * Dataflow: scan → per-doc signature (narrow, [[minhashBandKeys]])
    * → shuffle on (band, key) → per-bucket pair generation → exact
    * verify on the (small) candidate set against [[minhashShingles]]
    * (persisted — see its cache-lifetime contract). The cross join
    * only ever happens inside a bucket.
    */
  def minhashPairs(docs: DataFrame, bands: Int = DefaultMinhashBands,
      rowsPerBand: Int = 4,
      threshold: Double = DefaultMinhashThreshold,
      shingleK: Int = 3): DataFrame = {
    val prepped = minhashShingles(docs, shingleK)
    val banded = minhashBandKeys(docs, bands, rowsPerBand, shingleK)
    // Pair generation via groupBy-bucket + in-bucket explosion, NOT a
    // self-join (which would recompute and re-shuffle the lineage
    // twice). Bucket sizes are small by LSH construction, so the
    // in-bucket explosion is bounded.
    val buckets = banded
      .groupBy(col("band"), col("band_key"))
      .agg(collect_list(col("doc_id")).as("members"))
      .filter(size(col("members")) > 1)
    val candidates = buckets
      .select(posexplode(col("members")).as(Seq("i", "da")), col("members"))
      .select(col("da"), explode(
        slice(col("members"), col("i") + 2,
          size(col("members")) - col("i") - 1)).as("db"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // Exact verify: shingle arrays re-attached to the candidate set
    // only. Merge hints: the candidate set is CORPUS-PROPORTIONAL
    // (LSH bounds it probabilistically, not adversarially) and its
    // bucket-explode lineage defeats size estimation — unhinted, the
    // planner broadcast the candidate side (plan audit, round 4);
    // the keyed shuffle join is the shape that survives a pathological
    // bucket. `prepped` is cached with accurate stats either way.
    candidates
      .join(prepped.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
        .hint("merge"), "doc_a")
      .join(prepped.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
        .hint("merge"), "doc_b")
      .withColumn("inter", graft.functions.SortedIntersectCard
        .sorted_intersect_card(col("sh_a"), col("sh_b")))
      // |A∪B| = |A|+|B|−|A∩B| on distinct sets — same double as
      // size(array_intersect)/size(array_union), no per-pair arrays
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Incremental NEAR-dup: near-duplicates of a new ingest batch
    * AGAINST an already-curated history, without ever re-pairing
    * history with itself. [[minhashPairs]] dedups a closed corpus —
    * rerunning it per ingest re-derives history×history pairs that
    * were already adjudicated. Here only new×history band-key matches
    * become candidates, verified with exact shingle Jaccard (same
    * contract as [[minhashPairs]]); the exact-match complement is
    * [[incrementalDedup]]'s fingerprint bloom path.
    *
    * 100 TB shape: band keys are a pure per-document function
    * ([[minhashBandKeys]] — no corpus statistics), so the history
    * side is write-once state: materialize it as a table bucketed on
    * `(band, band_key)` and each ingest computes keys for the BATCH
    * only and equi-joins against it (bucketing makes that join
    * exchange-free on the history side; history text is touched only
    * to fetch shingles for the candidate sliver). This demo derives
    * both sides from the fixture; the merge hint pins the
    * strategy-safe shuffled join — band-key lineage defeats size
    * estimation and the planner must not broadcast an unbounded side
    * (see [[minhashPairs]]'s join note).
    */
  def minhashPairsAgainst(newDocs: DataFrame, history: DataFrame,
      bands: Int = DefaultMinhashBands, rowsPerBand: Int = 4,
      threshold: Double = DefaultMinhashThreshold,
      shingleK: Int = 3): DataFrame = {
    val bNew = minhashBandKeys(newDocs, bands, rowsPerBand, shingleK)
    val bHist = minhashBandKeys(history, bands, rowsPerBand, shingleK)
    val candidates = bNew
      .select(col("band"), col("band_key"), col("doc_id").as("doc_new"))
      .join(bHist.select(col("band"), col("band_key"),
        col("doc_id").as("doc_hist")).hint("merge"), Seq("band", "band_key"))
      .select(col("doc_new"), col("doc_hist"))
      .dropDuplicates("doc_new", "doc_hist")
    candidates
      .join(minhashShingles(newDocs, shingleK)
        .select(col("doc_id").as("doc_new"), col("sh").as("sh_n"))
        .hint("merge"), "doc_new")
      .join(minhashShingles(history, shingleK)
        .select(col("doc_id").as("doc_hist"), col("sh").as("sh_h"))
        .hint("merge"), "doc_hist")
      .withColumn("inter", graft.functions.SortedIntersectCard
        .sorted_intersect_card(col("sh_n"), col("sh_h")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_n")) + size(col("sh_h")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_new"), col("doc_hist"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** RECALL of the banded minhash path against exact ground truth —
    * the acceptance metric a dedup deployment is judged by (the
    * [[Similarity]] family's `sim_ivf_recall` twin for near-dup):
    * how many true near-dup pairs does banding actually surface?
    *
    * Ground truth WITHOUT an all-pairs join: any pair with shingle
    * Jaccard ≥ threshold > 0 must share at least one shingle, so the
    * exact true-pair set is derivable from a shingle POSTING join
    * (the [[containmentPairs]] machinery) — shared-shingle counts per
    * pair give Jaccard as `shared / (sz_a + sz_b − shared)` with no
    * array re-attachment, and pairs sharing nothing are never
    * touched. [[minhashPairs]]'s verify step divides the same
    * integers, so found ⊆ truth exactly and recall is a pure count
    * ratio. Scale: posting-join cost tracks shingle co-occurrence
    * (the same bound the gated containment/ngram gates carry), not
    * corpus²; the recall aggregate is one row.
    */
  def minhashRecall(docs: DataFrame,
      threshold: Double = DefaultMinhashThreshold): DataFrame = {
    val sized = minhashShingles(docs).withColumn("sz", size(col("sh")))
    val posting = sized.select(col("doc_id"), col("sz"),
      explode(col("sh")).as("g"))
    // merge hint: posting sides are corpus-proportional explode
    // lineages (the jaccardPairsBySource join note)
    val truth = posting
      .select(col("g"), col("doc_id").as("doc_a"), col("sz").as("sz_a"))
      .join(posting.select(col("g"), col("doc_id").as("doc_b"),
        col("sz").as("sz_b")).hint("merge"), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared").cast("double") /
        (col("sz_a") + col("sz_b") - col("shared")).cast("double")
        >= threshold)
      .select(col("doc_a"), col("doc_b"))
    val found = minhashPairs(docs, threshold = threshold)
      .select(col("doc_a"), col("doc_b"), lit(1).as("hit"))
    truth.join(found, Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_found"),
        // empty-corpus guard: ANSI div-by-zero (the funnel pattern)
        expr("CASE WHEN count(1) = 0 THEN NULL" +
          " ELSE (count(hit) * 100) div count(1) END").as("recall_x100"))
  }

  // --------------------------------------------------------- simhash

  /** Per-doc 64-bit SimHash signature (native expression). */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      SimHash64.simhash64(tokensNorm(col("text"))).as("simhash"))

  /** (doc_id, th): per-token xxhash64 — seed 42, the exact hash
    * [[graft.functions.SimHash64]] applies internally — with multiset
    * multiplicity preserved. Aux input for the simhash DuckDB oracle,
    * which re-runs the 64-bit bit-vote from these hashes in SQL.
    */
  def simhashTokenHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokensNorm(col("text"))).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("th"))

  /** Quarter-blocked Hamming pair join over any (id, 64-bit signature)
    * frame — the LSH core shared by [[simhashPairs]] (text) and
    * [[Multimodal.mediaNearDupPairs]] (perceptual hashes): block on
    * the 4 16-bit quarters of the signature (a pair within Hamming
    * distance ≤ maxHamming must agree exactly on ≥1 quarter when
    * maxHamming < 4 — pigeonhole), then verify true Hamming distance.
    * Same LSH shape as MinHash: narrow map → small-key shuffle →
    * in-bucket verify. Output columns: `<id>_a, <id>_b, hamming`.
    */
  def hammingBlockedPairs(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming < 4, "quarter-blocking is exact only for maxHamming < 4")
    val blocked = sigs.select(col(idCol), col(sigCol),
      posexplode(array((0 until 4).map(q =>
        col(sigCol).bitwiseAND(lit(0xFFFFL << (q * 16)))): _*))
        .as(Seq("quarter", "qkey")))
    val a = blocked.select(col("quarter"), col("qkey"),
      col(idCol).as(s"${idCol}_a"), col(sigCol).as("sig_a"))
    val b = blocked.select(col("quarter"), col("qkey"),
      col(idCol).as(s"${idCol}_b"), col(sigCol).as("sig_b"))
    // merge hint: corpus×corpus with posexplode-garbled estimates —
    // see [[jaccardPairsBySource]]'s join note
    a.join(b.hint("merge"), Seq("quarter", "qkey"))
      .filter(col(s"${idCol}_a") < col(s"${idCol}_b"))
      .dropDuplicates(s"${idCol}_a", s"${idCol}_b")
      .withColumn("hamming", SimHash64.hamming64(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"), col("hamming"))
  }

  /** SimHash near-dup pairs: [[hammingBlockedPairs]] over the per-doc
    * 64-bit signatures.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingBlockedPairs(simhash(docs), "doc_id", "simhash", maxHamming)
      .withColumnRenamed("doc_id_a", "doc_a")
      .withColumnRenamed("doc_id_b", "doc_b")

  // --------------------------------------------------- exact jaccard

  /** Exact word-set Jaccard pairs within a blocking key (`source`) —
    * the oracle-checkable exact form of near-dup detection. Blocking
    * bounds the pair count: O(Σ block²) not O(n²).
    *
    * Scale shape — triangle sub-blocking. A naive blocked self-join
    * keys the shuffle on `source` alone, so one task owns a whole
    * block's O(n²) pair work: a dominant block degenerates to a
    * near-cross-product on one executor (and on a single small file
    * the broadcast probe runs in ONE task regardless of cores). Each
    * block is instead split into `s = ⌈n/targetSubBlock⌉` hash
    * sub-blocks and the pair space is covered by the s(s+1)/2
    * sub-block combinations `(p ≤ q)`: a doc in sub-block v serves the
    * a-side of keys (v, q≥v) and the b-side of keys (p≤v, v), so every
    * unordered pair lands in exactly one combination — the diagonal
    * (p = q) deduplicates by `doc_a < doc_b`, off-diagonal pairs are
    * distinct by construction and get order-normalized on output.
    * Replication is s+1 ≈ n/targetSubBlock copies per doc — the
    * standard triangle-partitioning trade: O(n²/c²) uniform tasks for
    * O(n/c) duplication. The explicit fixed-N repartition pins the
    * probe parallelism (AQE would otherwise coalesce a tiny-but-CPU-
    * heavy stage to one task; explicit N is exempt from coalescing).
    *
    * Per-pair cost: J(A,B) ≥ t ⟹ t·|A| ≤ |B| ≤ |A|/t, checked before
    * any set work; union size is derived as |A|+|B|−|A∩B| instead of
    * materializing `array_union`. Both are identity rewrites — the
    * DuckDB oracle hash-match is unaffected.
    *
    * UNIGRAM sets over a small vocabulary are DENSE: an inverted
    * index degenerates (every posting list ≈ the whole block, so the
    * posting join materializes near the full cross product — measured
    * 27% slower than intersecting). The blocked self-join with
    * array_intersect over hashed tokens is the right shape here;
    * [[ngramJaccardPairs]] uses the posting join because trigram
    * vocabularies are sparse. Same operator, two data-shaped plans.
    */
  def jaccardPairsBySource(docs: DataFrame, threshold: Double = 0.6,
                           targetSubBlock: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    // sorted once per doc (r15): the per-pair intersect below is the
    // allocation-free sorted merge, not a hash set per candidate
    val withToks = docs.select(col("doc_id"), col("source"),
      array_sort(array_distinct(graft.functions.NgramHash64.ngram_hash64(
        tokensNorm(col("text")), 1))).as("toks"))
      .withColumn("sz", size(col("toks")))
    // Sub-block count per source from a broadcast count join (tiny:
    // one row per distinct source); v = doc's own sub-block.
    val counts = withToks.groupBy("source")
      .agg(ceil(count(lit(1)).cast("double") / targetSubBlock).cast("int").as("nsub"))
    val sub = withToks.join(broadcast(counts), "source")
      .withColumn("v", pmod(xxhash64(col("doc_id")), col("nsub")).cast("int"))
    val a = sub.select(col("source"), col("doc_id").as("doc_a"),
        col("toks").as("toks_a"), col("sz").as("sz_a"),
        col("v").as("p"), explode(sequence(col("v"), col("nsub") - 1)).as("q"))
    val b = sub.select(col("source"), col("doc_id").as("doc_b"),
        col("toks").as("toks_b"), col("sz").as("sz_b"),
        explode(sequence(lit(0), col("v"))).as("p"), col("v").as("q"))
    val par = spark.sparkContext.defaultParallelism
    // MERGE hint: both sides are the exploded corpus, and explode
    // lineage defeats size estimation — left to the planner, the
    // whole duplicated b-side gets BROADCAST (measured: the ladder's
    // 2-point growth check caught wall-clock going 4×/8.6× per
    // doubling as the driver-built hashed relation outgrew memory;
    // at cluster scale it is an OOM). A corpus×corpus join is
    // shuffle-partitioned by definition; SMJ spills gracefully.
    a.repartition(par, col("source"), col("p"), col("q"))
      .join(b.hint("merge"), Seq("source", "p", "q"))
      .filter((col("p") =!= col("q") || col("doc_a") < col("doc_b")) &&
        col("sz_b") * lit(threshold) <= col("sz_a") &&
        col("sz_a") * lit(threshold) <= col("sz_b"))
      .withColumn("inter", graft.functions.SortedIntersectCard
        .sorted_intersect_card(col("toks_a"), col("toks_b")).cast("double"))
      .withColumn("jaccard",
        col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("source"),
        least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** Exact set-similarity join over a prepared (doc_id, source,
    * g: array<long>, sz) frame: explode to postings, equi-join on
    * (source, gram), count shared grams per pair, Jaccard =
    * shared / (|A|+|B|−shared). Touches only pairs sharing ≥1 gram —
    * never the full O(block²) cross product — and shuffles 8-byte
    * postings, not documents.
    */
  private def postingJaccard(withG: DataFrame, threshold: Double): DataFrame = {
    val posting = withG.select(col("source"), col("doc_id"), col("sz"),
      explode(col("g")).as("gram"))
    val a = posting.select(col("source"), col("gram"),
      col("doc_id").as("doc_a"), col("sz").as("sz_a"))
    val b = posting.select(col("source"), col("gram"),
      col("doc_id").as("doc_b"), col("sz").as("sz_b"))
    // merge hint: both sides are the gram-exploded corpus (~|doc|
    // rows per doc) and explode defeats size estimation — see
    // [[jaccardPairsBySource]]'s join note
    a.join(b.hint("merge"), Seq("source", "gram"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("source"), col("doc_a"), col("doc_b"),
        col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard", col("shared").cast("double") /
        (col("sz_a") + col("sz_b") - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("source"), col("doc_a"), col("doc_b"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** Exact word-TRIGRAM Jaccard near-dup pairs within a blocking key —
    * the n-gram (n=3) family with a full oracle (the unigram form is
    * [[jaccardPairsBySource]]; MinHash approximates THIS measure).
    * Trigram construction mirrors the oracle exactly: empty for
    * docs under 3 tokens (no whole-text fallback).
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.1): DataFrame = {
    // Grams are hashed by the native [[graft.functions.NgramHash64]]
    // expression — the composable HOF form (transform + slice +
    // concat_ws + xxhash64 per gram) runs interpreted and cost 9.4 s
    // of construction alone at sf0.1. Long gram-hashes also make the
    // postings 8 bytes; a 64-bit collision inside one pair's
    // ~160-gram union is ~1e-15, far below the oracle's 4-dp
    // rounding of the Jaccard value.
    val withG = docs.select(col("doc_id"), col("source"),
        array_distinct(graft.functions.NgramHash64.ngram_hash64(
          tokensNorm(col("text")), 3)).as("g"))
      .filter(size(col("g")) > 0)
      .withColumn("sz", size(col("g")))
    postingJaccard(withG, threshold)
  }

  /** DIRECTED trigram containment pairs: `|A∩B| / |A| ≥ t` — the
    * asymmetric cousin of Jaccard that catches quotes, excerpts, and
    * wholesale inclusion (a paragraph lifted into a larger document
    * scores near 1.0 on containment but near 0 on Jaccard, so a
    * Jaccard-only dedup pass ships the duplication to training).
    * Emits (container-candidate, containee) per direction that
    * clears the threshold; same sparse posting join as
    * [[ngramJaccardPairs]] — pairs sharing no gram are never touched,
    * postings are 8-byte hashes. No size prefilter applies: unlike
    * Jaccard, containment is reachable at ANY size ratio (that is
    * the point of the measure).
    */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.1): DataFrame = {
    val withG = docs.select(col("doc_id"), col("source"),
        array_distinct(graft.functions.NgramHash64.ngram_hash64(
          tokensNorm(col("text")), 3)).as("g"))
      .filter(size(col("g")) > 0)
      .withColumn("sz", size(col("g")))
    val posting = withG.select(col("source"), col("doc_id"), col("sz"),
      explode(col("g")).as("gram"))
    val a = posting.select(col("source"), col("gram"),
      col("doc_id").as("doc_a"), col("sz").as("sz_a"))
    val b = posting.select(col("source"), col("gram"),
      col("doc_id").as("doc_b"))
    // merge hint: see [[jaccardPairsBySource]]'s join note
    a.join(b.hint("merge"), Seq("source", "gram"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("source"), col("doc_a"), col("doc_b"), col("sz_a"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("containment",
        col("shared").cast("double") / col("sz_a").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("source"), col("doc_a"), col("doc_b"),
        round(col("containment"), 4).as("containment"))
  }

  // ------------------------------------------- components / clustering

  /** Eagerly materialize `df` as a persisted `InternalRow` RDD and
    * rebuild the frame over it — a per-round plan barrier with LEAF
    * statistics. The iterative loop below cannot use
    * `Dataset.localCheckpoint`: Spark 4 rewrites the source plan's
    * Statistics onto the checkpointed node
    * (`LogicalRDD.fromDataset`), so round-over-round checkpoints
    * compound size-in-bytes estimates multiplicatively until the
    * driver livelocks multiplying million-digit BigIntegers during
    * planning (measured: the 2000-hop-chain spec went from seconds to
    * stuck). Returns the barrier frame plus the RDD handle so the
    * loop can release the previous round's blocks.
    */
  private[graft] def roundBarrier(df: DataFrame)
      : (DataFrame,
         org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]) = {
    val rdd = df.queryExecution.toRdd.map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rdd.count() // eager
    (org.apache.spark.sql.graftbridge.Bridge.internalDf(
      df.sparkSession, rdd, df.schema), rdd)
  }

  /** Connected components over a near-dup pair set: the clustering
    * step every real dedup pipeline runs AFTER pair generation (keep
    * one representative per component, not per pair — A~B and B~C
    * must collapse to one survivor even when A~C was never emitted).
    *
    * Algorithm: iterative min-label propagation with pointer
    * jumping — each round every node takes the min label among
    * itself and its neighbors, then labels shortcut through their
    * own labels (`label ← label(label)`), with `localCheckpoint`
    * truncating the lineage per round (the plan would otherwise grow
    * exponentially). Neighbor-min alone needs graph-diameter rounds
    * (a 10k-hop chain = 10k rounds); the shortcut step doubles the
    * propagation horizon per round, so convergence is O(log d) — the
    * same mechanism large-star/small-star (Kiveris et al. 2014)
    * relies on, here as the cheap two-join variant. `maxIters = 30`
    * therefore covers any component a 100 TB corpus can produce
    * (2³⁰ diameter); non-convergence throws rather than silently
    * returning partial components.
    *
    * Each round shuffles (node, label) pairs — 16 bytes per edge
    * endpoint — never the documents themselves.
    * Output: (node, component) with component = min node id reachable.
    *
    * ADAPTIVE small-graph path: the pair graph a near-dup stage emits
    * is typically orders of magnitude smaller than the corpus it came
    * from (only documents WITH a near-duplicate appear at all), and
    * below `localMaxEdges` the log-round loop is pure task overhead —
    * each of its ~log d rounds costs two joins plus a count of
    * near-empty partitions. So the edge set is counted once (it is
    * persisted for the loop anyway) and, when it fits one task's
    * memory comfortably (≤ 2²⁰ edges ≈ 16 MB of endpoints), solved by
    * union-find with path compression INSIDE one executor task
    * (`mapPartitions` over `coalesce(1)` — per-partition imperative
    * logic, not a driver collect). Same output by construction: roots
    * are united under the smaller id, so every node's root is the min
    * reachable id — property-tested equal to the loop on random
    * graphs. Long-typed node ids only (the engine's doc ids); any
    * other type keeps the loop, as does anything over the threshold —
    * the 1M/2M-edge rehearsals and ladder rungs still measure the
    * distributed rounds.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 30, localMaxEdges: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    val longIds =
      pairs.schema(aCol).dataType == org.apache.spark.sql.types.LongType &&
        pairs.schema(bCol).dataType == org.apache.spark.sql.types.LongType
    // One directed copy of the pair set, persisted and counted: the
    // count picks the path AND materializes the (often expensive)
    // pair derivation exactly once — the both-direction union below
    // then reads the cache twice instead of re-deriving pairs twice.
    // Persisted at the RDD level (not Dataset.persist) so the SAME
    // materialization can be re-framed in the isolated loop session
    // below without a second evaluation.
    val peSrc = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
    val peRdd = peSrc.queryExecution.toRdd.map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEdges = peRdd.count()
    val pe = org.apache.spark.sql.graftbridge.Bridge.internalDf(
      spark, peRdd, peSrc.schema)
    if (longIds && nEdges <= localMaxEdges) {
      try {
        import spark.implicits._
        val labeled = pe.select(col("u").as("_1"), col("v").as("_2"))
          .as[(Long, Long)].coalesce(1).mapPartitions { it =>
          val parent = scala.collection.mutable.LongMap.empty[Long]
          def find(x: Long): Long = {
            var r = x
            while (parent(r) != r) r = parent(r)
            var c = x
            while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
            r
          }
          it.foreach { case (u, v) =>
            if (!parent.contains(u)) parent.update(u, u)
            if (!parent.contains(v)) parent.update(v, v)
            val ru = find(u); val rv = find(v)
            if (ru < rv) parent.update(rv, ru)
            else if (rv < ru) parent.update(ru, rv)
          }
          // snapshot keys before the final finds: path compression
          // rewrites values in place and must not race the iterator
          val nodes = parent.keys.toArray
          nodes.iterator.map(nd => (nd, find(nd)))
        }.toDF("node", "component")
          .localCheckpoint(true) // eager: safe to release pe below
        labeled
      } finally peRdd.unpersist()
    } else {
    // The label frame is two longs per clustered doc — orders of
    // magnitude smaller than the corpus the pairs came from. At 32
    // shuffle partitions each round pays ~3 near-empty shuffles of
    // pure task overhead, which dominates the loop at gate scale; but
    // a FIXED count under-parallelizes and spills once the graph
    // grows (the 10M-edge ladder rung measured 2.6×/doubling at a
    // pinned 8). Size partitions to the data: ~1M directed rows each
    // keeps per-round sorts in memory, the floor keeps small graphs
    // at near-zero task overhead, the cap keeps partitions ≥ cores
    // busy rather than fragmenting (AQE coalescing doesn't cover
    // every stage here because localCheckpoint pins materialization).
    // Restored after.
    val parts = math.max(8, math.min(
      spark.sparkContext.defaultParallelism * 4,
      (2L * nEdges / 1000000L).toInt))
    // The loop sizes EVERY one of its shuffles via
    // spark.sql.shuffle.partitions; setting that on the caller's
    // session raced any job a driver thread overlapped with this
    // build (guide §2.6 — Curation.pipelinePack runs its decontam
    // arm concurrently). Plan the whole loop in an ISOLATED session
    // instead: same SparkContext, cache and extensions, own SQLConf —
    // identical plans, zero shared mutable state. The persisted pair
    // RDD is re-framed here without re-evaluation.
    val iso = spark.newSession()
    iso.conf.set("spark.sql.shuffle.partitions", parts.toString)
    val peIso = org.apache.spark.sql.graftbridge.Bridge.internalDf(
      iso, peRdd, peSrc.schema)
    // persisted hash-partitioned on the join key: every round's join
    // reuses the stored partitioning instead of re-shuffling the edges
    val edges = peIso
      .union(peIso.select(col("v").as("u"), col("u").as("v")))
      .repartition(parts, col("u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var (labels, labelsRdd) = roundBarrier(
        edges.select(col("u").as("node")).distinct()
          .withColumn("label", col("node")))
      var changed = 1L
      var it = 0
      // LIVE-EDGE CONTRACTION: the loop below is the standard
      // min-label propagation + pointer jumping (O(log d) rounds),
      // but naively every round shuffles all 2m edge rows even though
      // after round 0 the overwhelming share of nodes is settled
      // (5M-edge ladder, 100k-chain topology: round 0 moves 3.4M
      // labels, every later round ~100k chain nodes — yet each paid
      // the full 2m shuffle, 17 rounds long). After each round the
      // edge set is CONTRACTED in label space: an edge whose endpoints
      // share a current label is a witness that both sides are already
      // merged and can never transmit new information once its label
      // node carries the truth — it is dropped; a cross-label edge is
      // rewritten to its label pair. Labels are node ids, so the
      // contracted endpoints are valid rows of the label frame and
      // propagation over them composes with the jump join that pulls
      // updates down to every original node. Critically the LABEL
      // frame is never restarted — pointer-jumping reach keeps
      // compounding, so a high-diameter chain still converges in
      // log₂(d) rounds (a restart-and-recurse contraction shrinks a
      // chain only linearly per level: its label graph is again a
      // chain — measured dead end). Clique-heavy graphs (every
      // near-dup corpus) collapse the live set after the first
      // rounds, making later rounds O(live)+O(n) instead of O(m).
      //
      // Round materialization is [[roundBarrier]], NOT
      // Dataset.localCheckpoint: Spark 4 checkpoints inherit the
      // source plan's Statistics (LogicalRDD.fromDataset originStats),
      // so checkpoint-per-round compounds size estimates
      // multiplicatively and the driver livelocks in BigInteger stats
      // arithmetic after ~a dozen rounds (see
      // [[org.apache.spark.sql.graftbridge.Bridge.internalDf]]).
      var live = edges
      var liveRdd: org.apache.spark.rdd.RDD[_] = null
      while (changed > 0 && it < maxIters) {
        val prop = live.join(labels.withColumnRenamed("node", "u"), "u")
          .groupBy(col("v").as("node")).agg(min(col("label")).as("nbr"))
        val afterNbr = labels.join(prop, Seq("node"), "left")
          .select(col("node"),
            least(col("label"), coalesce(col("nbr"), col("label"))).as("label"),
            (col("nbr") < col("label")).as("moved_n"))
        // pointer jumping: shortcut each label through ITS label —
        // min labels then travel 2^it hops in it rounds, not it hops
        // (labels are always node ids, so the lookup side is total).
        // carry the did-anything-change flag INSIDE the checkpointed
        // frame: the convergence check is then a scan of materialized
        // rows, not another join + shuffle per round
        val (next, nextRdd) = roundBarrier(afterNbr.join(
            afterNbr.select(col("node").as("jnode"), col("label").as("jlabel")),
            col("label") === col("jnode"), "left")
          .select(col("node"),
            least(col("label"), coalesce(col("jlabel"), col("label"))).as("label"),
            (col("moved_n") || col("jlabel") < col("label")).as("moved")))
        changed = next.filter(col("moved")).count()
        // next is eagerly materialized with its lineage cut, so the
        // previous round's blocks can be released NOW — otherwise
        // peak storage is rounds × frame size and large corpora evict
        // the edges cache mid-loop
        labelsRdd.unpersist()
        labelsRdd = nextRdd
        labels = next.select(col("node"), col("label"))
        if (changed > 0) {
          // contract the live set under the refreshed labeling; the
          // barrier both materializes the (shrinking) frame and cuts
          // lineage so per-round plans stay constant size
          val (contractedLive, contractedRdd) = roundBarrier(live
            .join(labels.select(col("node").as("u"), col("label").as("lu")), "u")
            .join(labels.select(col("node").as("v"), col("label").as("lv")), "v")
            .filter(col("lu") =!= col("lv"))
            .select(col("lu").as("u"), col("lv").as("v")).distinct())
          if (liveRdd != null) liveRdd.unpersist()
          live = contractedLive
          liveRdd = contractedRdd
        }
        it += 1
      }
      if (changed > 0)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIters rounds")
      // barrier: the finally below unpersists edges/pe, and the label
      // frame must not lazily re-derive the pair set after the cache
      // is gone. Framed against the CALLER's session (the loop ran in
      // `iso`), so downstream composition plans under the caller's
      // conf as before.
      val resSrc = labels.select(col("node"), col("label").as("component"))
      val (resultIso, resultRdd) = roundBarrier(resSrc)
      val result = org.apache.spark.sql.graftbridge.Bridge.internalDf(
        spark, resultRdd, resultIso.schema)
      labelsRdd.unpersist()
      if (liveRdd != null) liveRdd.unpersist()
      result
    } finally {
      edges.unpersist()
      peRdd.unpersist()
    }
    }
  }

  /** Components over the exact unigram-Jaccard pairs — the gate form:
    * one row per clustered doc with its component representative.
    */
  def jaccardComponents(docs: DataFrame, threshold: Double = 0.6): DataFrame =
    connectedComponents(
      jaccardPairsBySource(docs, threshold), "doc_a", "doc_b")

  /** Incremental connected components — fold a new batch's pairs into
    * an EXISTING history labeling without re-deriving history pairs
    * (the clustering-side twin of [[minhashPairsAgainst]]'s
    * pair-side incrementality: daily ingest at 100 TB re-clusters
    * nothing it already clustered).
    *
    * History connectivity is represented by its STAR EDGES
    * (component → node): a component's star is connectivity-equivalent
    * to its original pair set and carries the same min label (the
    * representative IS the component min), so running
    * [[connectedComponents]] over `stars ∪ newPairs` yields labels
    * IDENTICAL to a full recompute over `historyPairs ∪ newPairs` —
    * including the case a batch document BRIDGES two history
    * components (their stars become connected through it and the
    * merged label is the global min). That identity is the gate's
    * oracle (full-corpus closure) and an ExtSpec property.
    *
    * Scale shape: the folded edge set is |history nodes| + |new
    * pairs| — star edges are the already-materialized labeling, the
    * expensive pair derivation runs on the batch sliver only, and
    * stars form depth-1 trees so the label propagation's effective
    * diameter collapses to ~the new-pair graph's.
    */
  def incrementalComponents(historyLabels: DataFrame, newPairs: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val stars = historyLabels.filter(col("node") =!= col("component"))
      .select(col("component").as(aCol), col("node").as(bCol))
    connectedComponents(
      stars.unionByName(newPairs.select(col(aCol), col(bCol))), aCol, bCol)
  }

  /** Bag-of-words fingerprint: md5 of the sorted distinct token set —
    * the order-insensitive canonical form between exact-text equality
    * and shingle similarity (token-shuffled rewrites collide, topic-
    * shifted docs don't). ASCII+BMP-only tokens sort identically under
    * Java UTF-16 and the oracle's UTF-8 byte order.
    */
  def bagFingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokensNorm(text))), " "))

  /** Incremental dedup — the 100 TB ingest pattern: a new batch
    * arrives, and only documents whose fingerprint is NOT already in
    * the historical index survive. Routed through
    * [[graft.ops.BloomJoin.antiJoin]]: the history fingerprints build
    * a broadcast Bloom bitmap, definite non-members pass inside the
    * batch scan's codegen stage with NO join at all, and only the
    * maybe-member sliver takes the exact anti-join shuffle. At steady
    * state (most of a fresh crawl is genuinely new) the shuffle
    * carries a few percent of the batch instead of all of it.
    *
    * SIZE THE BITMAP to the history: ~16 bits per history key (the
    * default 2^18 bits covers ~16k keys; a saturated bitmap answers
    * "maybe" for every row and the operator degrades to the plain
    * anti join plus wasted passes). Correctness never depends on the
    * size — only the prefilter's selectivity does. See BloomJoin's
    * Scaladoc for when the prefilter pays at all.
    */
  def incrementalDedup(history: DataFrame, batch: DataFrame,
      textCol: String = "text",
      bloomBits: Int = graft.ops.BloomJoin.DefaultBits,
      bloomHashes: Int = graft.ops.BloomJoin.DefaultHashes): DataFrame = {
    val fp = bagFingerprint(col(textCol))
    val hist = history.select(fp.as("fp"))
    graft.ops.BloomJoin.antiJoin(
      batch.withColumn("__fp", fp), col("__fp"), hist, col("fp"),
      numBits = bloomBits, numHashes = bloomHashes)
      .drop("__fp")
  }

  // ------------------------------------------------------------ queries

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, d) =>
      exact(Tables.documents(s, d))
        .select(col("keep_doc_id"), col("dup_count"))
        .orderBy(col("keep_doc_id"))),
    // exact dedup COMPOSED over NFC normalization — the order a real
    // pipeline must run them in: precomposed vs decomposed renderings
    // of one string hash apart without the canonicalization step
    // (the normalize gate's rationale, exercised through the dedup
    // grouping; oracle independently normalizes via ICU)
    "dedup_exact_nfc" -> ((s, d) =>
      exact(Tables.documents(s, d).withColumn("text",
          graft.functions.NfcNormalize.nfc_normalize(col("text"))))
        .select(col("keep_doc_id"), col("dup_count"))
        .orderBy(col("keep_doc_id"))),
    // exact dedup over NFKC (SentencePiece's default normalizer):
    // compatibility variants — ligatures, full-width forms — fold
    // together BEFORE hashing. DuckDB has no nfkc_normalize, so the
    // oracle rebuilds NFKC as nfc_normalize over the engine-
    // materialized per-codepoint NFKD map (exact by UAX#15:
    // NFKC = NFC∘NFKD, and NFC canonically reorders before composing)
    "dedup_exact_nfkc" -> ((s, d) =>
      exact(Tables.documents(s, d).withColumn("text",
          graft.functions.NfkcNormalize.nfkc_normalize(col("text"))))
        .select(col("keep_doc_id"), col("dup_count"))
        .orderBy(col("keep_doc_id"))),
    "dedup_exact_by_key" -> ((s, d) =>
      exactByKey(Tables.documents(s, d)).orderBy(col("lang"), col("source"))),
    "dedup_minhash_pairs" -> ((s, d) =>
      minhashPairs(Tables.documents(s, d)).orderBy(col("doc_a"), col("doc_b"))),
    "dedup_minhash_recall" -> ((s, d) =>
      minhashRecall(Tables.documents(s, d))),
    // deterministic ingest split (doc_id mod 3): third of the corpus
    // plays the new batch, the rest the curated history
    "dedup_minhash_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      minhashPairsAgainst(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0),
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0))
        .orderBy(col("doc_new"), col("doc_hist"))
    }),
    "dedup_simhash" -> ((s, d) =>
      simhash(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "dedup_jaccard_by_source" -> ((s, d) =>
      jaccardPairsBySource(Tables.documents(s, d), threshold = 0.6)
        .orderBy(col("doc_a"), col("doc_b"))),
    "dedup_ngram_jaccard" -> ((s, d) =>
      ngramJaccardPairs(Tables.documents(s, d), threshold = 0.1)
        .orderBy(col("doc_a"), col("doc_b"))),
    "dedup_containment" -> ((s, d) =>
      containmentPairs(Tables.documents(s, d), threshold = 0.1)
        .orderBy(col("doc_a"), col("doc_b"))),
    "dedup_components" -> ((s, d) =>
      jaccardComponents(Tables.documents(s, d), threshold = 0.6)
        .orderBy(col("node"))),
    // incremental clustering: history (doc_id mod 3 != 0) is labeled
    // first, then only the batch-touching pair sliver folds in via
    // star edges. The oracle is the FULL-corpus closure — the gate
    // requires incremental ≡ full recompute, merges included. (The
    // gate derives the sliver by filtering the full exact pair set so
    // the oracle stays exact; production derives it asymmetrically —
    // minhashPairsAgainst — without ever pairing history with itself.)
    // THE COMPOSED PRODUCTION PIPELINE (round-7 gate): the asymmetric
    // minhash pair derivation feeding the star fold as ONE path —
    // history is labeled from its own minhash pairs, the new batch
    // contributes only new×hist ([[minhashPairsAgainst]]) plus
    // within-batch ([[minhashPairs]] on the batch sliver) pairs, and
    // [[incrementalComponents]] folds them into the history labeling.
    // Band keys are pure per-document functions, so the three pair
    // sets partition the full-corpus candidate set EXACTLY — the
    // oracle is therefore the full-corpus minhash closure (recomputed
    // independently in DuckDB from the same aux band keys/shingles):
    // incremental ≡ full recompute, bridging merges included.
    "dedup_minhash_components" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      val hist = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val histLabels = connectedComponents(minhashPairs(hist), "doc_a", "doc_b")
      val newPairs = minhashPairsAgainst(batch, hist)
        .select(col("doc_new").as("doc_a"), col("doc_hist").as("doc_b"))
        .unionByName(minhashPairs(batch).select(col("doc_a"), col("doc_b")))
      incrementalComponents(histLabels, newPairs).orderBy(col("node"))
    }),
    "dedup_components_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val hist = jaccardComponents(
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0), threshold = 0.6)
      val sliver = jaccardPairsBySource(docs, threshold = 0.6)
        .filter(pmod(col("doc_a"), lit(3)) === 0 ||
          pmod(col("doc_b"), lit(3)) === 0)
      incrementalComponents(hist, sliver).orderBy(col("node"))
    }),
    // dedup family #5: embedding-cosine near-dup (same engine path as
    // the similarity threshold join, registered under its dedup role)
    "dedup_embedding_cosine" -> ((s, d) =>
      graft.ext.Similarity.cosineNearDupPairs(Tables.embeddings(s, d), threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))),
    // SemDeDup composition: the pair stage above -> components -> one
    // kept representative per semantic cluster (full keep-list out)
    "dedup_semantic" -> ((s, d) =>
      graft.ext.Similarity.semanticDedup(Tables.embeddings(s, d), threshold = 0.4)
        .orderBy(col("vec_id"))),
    // incremental ingest: even doc_ids = historical index, odd = the
    // arriving batch; survivors are batch docs with an unseen
    // bag-of-words fingerprint
    "dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      incrementalDedup(docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    })
  )

  /** The simhash oracle re-runs the 64-bit bit-vote in SQL from the
    * materialized per-token hashes: per bit, count(+1/−1 votes) > 0
    * sets the bit. Bits 0–62 test `(th & 2^b) != 0`; bit 63 tests
    * `th < 0` (the BIGINT sign bit — a 2^63 mask literal would
    * overflow). Assembly accumulates in HUGEINT and re-wraps to the
    * signed 64-bit value at the end.
    */
  private def simhashOracleSql: String = {
    val terms = (0 until 64).map { b =>
      val bitTest = if (b == 63) "th < 0" else s"(th & ${1L << b}) != 0"
      val weight =
        if (b == 63) "CAST('9223372036854775808' AS HUGEINT)"
        else s"CAST(${1L << b} AS HUGEINT)"
      s"CASE WHEN sum(CASE WHEN $bitTest THEN 1 ELSE -1 END) > 0 THEN $weight ELSE CAST(0 AS HUGEINT) END"
    }.mkString(" + ")
    s"""SELECT doc_id,
       |  CAST(CASE WHEN sig >= CAST('9223372036854775808' AS HUGEINT)
       |       THEN sig - CAST('18446744073709551616' AS HUGEINT)
       |       ELSE sig END AS BIGINT) AS simhash
       |FROM (SELECT doc_id, $terms AS sig
       |      FROM read_parquet('__OUTDIR__/.aux/simhash_tokens/*.parquet')
       |      GROUP BY doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** DuckDB twins. `dedup_exact` hashes with xxhash64 (no DuckDB
    * equivalent), so its oracle groups by raw text — same groups,
    * same (keep_doc_id, dup_count) rows. The minhash and simhash
    * oracles consume Verify-materialized aux features (shingle
    * hashes + band keys / token hashes) and re-run the candidate
    * join + exact verify / bit-vote independently in SQL — the
    * signature computation itself is bit-exactness-tested in
    * ScalaTest, the same split the gen_orders_rollup gate uses.
    */
  val oracles: Map[String, String] = Map(
    // exact truth from the shingle-posting join (J ≥ t > 0 ⇒ the pair
    // shares a shingle), found = the band join + the same verify
    // division — recall is a pure count ratio of the two
    "dedup_minhash_recall" ->
      s"""WITH bk AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/minhash_bands/*.parquet')),
         |sh AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/minhash_shingles/*.parquet')),
         |posting AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS g FROM sh),
         |truth AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM posting a JOIN posting b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
         |  HAVING count(*) * 1.0 / (a.sz + b.sz - count(*))
         |         >= $DefaultMinhashThreshold),
         |found AS (
         |  SELECT DISTINCT c.doc_a, c.doc_b FROM (
         |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |    FROM bk a JOIN bk b
         |      ON a.band = b.band AND a.band_key = b.band_key
         |     AND a.doc_id < b.doc_id) c
         |  JOIN sh sa ON sa.doc_id = c.doc_a
         |  JOIN sh sb ON sb.doc_id = c.doc_b
         |  WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0 /
         |        (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
         |        >= $DefaultMinhashThreshold)
         |SELECT CAST(count(*) AS BIGINT) AS n_true,
         |       CAST(count(f.doc_a) AS BIGINT) AS n_found,
         |       CASE WHEN count(*) = 0 THEN NULL
         |            ELSE CAST((count(f.doc_a) * 100) // count(*) AS BIGINT)
         |       END AS recall_x100
         |FROM truth t
         |LEFT JOIN found f ON t.doc_a = f.doc_a AND t.doc_b = f.doc_b""".stripMargin,
    "dedup_minhash_pairs" ->
      s"""WITH bk AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/minhash_bands/*.parquet')),
        |     sh AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/minhash_shingles/*.parquet')),
        |     cand AS (
        |       SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |       FROM bk a JOIN bk b
        |         ON a.band = b.band AND a.band_key = b.band_key
        |        AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, round(j, 4) AS jaccard FROM (
        |  SELECT c.doc_a, c.doc_b,
        |         len(list_intersect(sa.sh, sb.sh)) * 1.0 /
        |         (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS j
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.doc_a
        |  JOIN sh sb ON sb.doc_id = c.doc_b)
        |WHERE j >= $DefaultMinhashThreshold ORDER BY doc_a, doc_b""".stripMargin,
    // same aux state as dedup_minhash_pairs (band keys and shingles
    // are pure per-document functions, so full-corpus aux slices
    // cleanly into the new/history sides); the oracle re-runs the
    // asymmetric band join + exact verify
    "dedup_minhash_incremental" ->
      s"""WITH bk AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/minhash_bands/*.parquet')),
        |     sh AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/minhash_shingles/*.parquet')),
        |     cand AS (
        |       SELECT DISTINCT n.doc_id AS doc_new, h.doc_id AS doc_hist
        |       FROM bk n JOIN bk h
        |         ON n.band = h.band AND n.band_key = h.band_key
        |       WHERE n.doc_id % 3 = 0 AND h.doc_id % 3 != 0)
        |SELECT doc_new, doc_hist, round(j, 4) AS jaccard FROM (
        |  SELECT c.doc_new, c.doc_hist,
        |         len(list_intersect(sn.sh, sb.sh)) * 1.0 /
        |         (len(sn.sh) + len(sb.sh) - len(list_intersect(sn.sh, sb.sh))) AS j
        |  FROM cand c
        |  JOIN sh sn ON sn.doc_id = c.doc_new
        |  JOIN sh sb ON sb.doc_id = c.doc_hist)
        |WHERE j >= $DefaultMinhashThreshold ORDER BY doc_new, doc_hist""".stripMargin,
    // full-corpus minhash closure: candidate pairs re-derived from the
    // aux band keys, exact-verified against the aux shingles (the
    // dedup_minhash_pairs oracle), then the recursive-CTE component
    // closure — the composed incremental path must be
    // indistinguishable from this full recompute
    "dedup_minhash_components" ->
      s"""WITH RECURSIVE
        |bk AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/minhash_bands/*.parquet')),
        |sh AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/minhash_shingles/*.parquet')),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bk a JOIN bk b
        |    ON a.band = b.band AND a.band_key = b.band_key
        |   AND a.doc_id < b.doc_id),
        |p AS (
        |  SELECT c.doc_a AS u, c.doc_b AS v
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.doc_a
        |  JOIN sh sb ON sb.doc_id = c.doc_b
        |  WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0 /
        |        (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
        |        >= $DefaultMinhashThreshold),
        |edges AS (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
        |reach(a, b) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u WHERE e.v != r.a)
        |SELECT a AS node, least(a, min(b)) AS component
        |FROM reach GROUP BY a ORDER BY node""".stripMargin,
    "dedup_simhash" -> simhashOracleSql,
    // transitive closure per node via recursive CTE; component = min
    // reachable id — must equal the engine's min-label propagation
    // the incremental gate's oracle IS the full-corpus closure: star
    // folding must be indistinguishable from a full recompute
    "dedup_components_incremental" ->
      """WITH RECURSIVE
        |t AS (
        |  SELECT doc_id, source,
        |         list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
        |        len(list_distinct(list_concat(a.toks, b.toks))) >= 0.6),
        |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
        |reach(a, b) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u WHERE e.v != r.a)
        |SELECT a AS node, least(a, min(b)) AS component
        |FROM reach GROUP BY a ORDER BY node""".stripMargin,
    "dedup_components" ->
      """WITH RECURSIVE
        |t AS (
        |  SELECT doc_id, source,
        |         list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
        |        len(list_distinct(list_concat(a.toks, b.toks))) >= 0.6),
        |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
        |reach(a, b) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u WHERE e.v != r.a)
        |SELECT a AS node, least(a, min(b)) AS component
        |FROM reach GROUP BY a ORDER BY node""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_doc_id, count(*) AS dup_count
        |FROM documents GROUP BY text ORDER BY keep_doc_id""".stripMargin,
    "dedup_exact_nfc" ->
      """SELECT min(doc_id) AS keep_doc_id, count(*) AS dup_count
        |FROM documents GROUP BY nfc_normalize(text)
        |ORDER BY keep_doc_id""".stripMargin,
    // NFKC re-derived without an NFKC primitive: per-codepoint NFKD
    // from the aux map (the trusted primitive, known-answer-spec'd),
    // folded per document in codepoint order, recomposed with DuckDB's
    // own nfc_normalize — empty docs kept via the LEFT JOIN
    "dedup_exact_nfkc" ->
      """WITH m AS (SELECT ch, nfkd
        |           FROM read_parquet('__OUTDIR__/.aux/nfkd_map/*.parquet')),
        |cx AS (SELECT doc_id, CAST(t.i AS BIGINT) AS i,
        |              text[CAST(t.i AS INTEGER):CAST(t.i AS INTEGER)] AS ch
        |       FROM documents, unnest(range(1, len(text) + 1)) t(i)),
        |nx AS (SELECT c.doc_id,
        |              nfc_normalize(string_agg(m.nfkd, '' ORDER BY c.i))
        |                AS ntext
        |       FROM cx c JOIN m USING (ch) GROUP BY c.doc_id),
        |nt AS (SELECT d.doc_id, coalesce(n.ntext, '') AS ntext
        |       FROM documents d LEFT JOIN nx n USING (doc_id))
        |SELECT min(doc_id) AS keep_doc_id, count(*) AS dup_count
        |FROM nt GROUP BY ntext ORDER BY keep_doc_id""".stripMargin,
    "dedup_exact_by_key" ->
      """SELECT lang, source, min(doc_id) AS keep_doc_id, count(*) AS group_size
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         list_distinct(list_transform(
        |           range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
        |           i -> string_split_regex(lower(trim(text)), '\s+')[i] || ' ' ||
        |                string_split_regex(lower(trim(text)), '\s+')[i+1] || ' ' ||
        |                string_split_regex(lower(trim(text)), '\s+')[i+2])) AS g
        |  FROM documents)
        |SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       round(len(list_intersect(a.g, b.g)) * 1.0 /
        |             len(list_distinct(list_concat(a.g, b.g))), 4) AS jaccard
        |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE len(a.g) > 0 AND len(b.g) > 0
        |  AND len(list_intersect(a.g, b.g)) * 1.0 /
        |      len(list_distinct(list_concat(a.g, b.g))) >= 0.1
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_containment" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         list_distinct(list_transform(
        |           range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
        |           i -> string_split_regex(lower(trim(text)), '\s+')[i] || ' ' ||
        |                string_split_regex(lower(trim(text)), '\s+')[i+1] || ' ' ||
        |                string_split_regex(lower(trim(text)), '\s+')[i+2])) AS g
        |  FROM documents)
        |SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       round(len(list_intersect(a.g, b.g)) * 1.0 / len(a.g), 4)
        |         AS containment
        |FROM t a JOIN t b ON a.source = b.source AND a.doc_id <> b.doc_id
        |WHERE len(a.g) > 0 AND len(b.g) > 0
        |  AND len(list_intersect(a.g, b.g)) * 1.0 / len(a.g) >= 0.1
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_embedding_cosine" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(
        |         a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    // brute exact pairs (recall-1.0 twin of the gate's IVF candidate
    // stage) -> recursive-CTE closure -> min representative per
    // component -> keep-list over ALL vectors (singletons keep)
    "dedup_semantic" ->
      """WITH RECURSIVE
        |p AS (
        |  SELECT a.vec_id AS u, b.vec_id AS v
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(
        |          a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4),
        |edges AS (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
        |reach(a, b) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u WHERE e.v != r.a),
        |comp AS (SELECT a AS vec_id, least(a, min(b)) AS component
        |         FROM reach GROUP BY a)
        |SELECT e.vec_id,
        |       coalesce(c.component, e.vec_id) AS representative,
        |       CASE WHEN coalesce(c.component, e.vec_id) = e.vec_id
        |            THEN 1 ELSE 0 END AS keep
        |FROM embeddings e LEFT JOIN comp c ON c.vec_id = e.vec_id
        |ORDER BY e.vec_id""".stripMargin,
    "dedup_jaccard_by_source" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS toks
        |  FROM documents)
        |SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       round(len(list_intersect(a.toks, b.toks)) * 1.0 /
        |             len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
        |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
        |      len(list_distinct(list_concat(a.toks, b.toks))) >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the oracle ignores the bloom mechanics entirely: survivors are
    // exactly the batch docs whose fingerprint is absent from history
    "dedup_incremental" ->
      """WITH f AS (
        |  SELECT doc_id, source,
        |         md5(array_to_string(list_sort(list_distinct(
        |           string_split_regex(lower(trim(text)), '\s+'))), ' ')) AS fp
        |  FROM documents)
        |SELECT doc_id, source FROM f b
        |WHERE b.doc_id % 2 = 1
        |  AND b.fp NOT IN (SELECT fp FROM f h WHERE h.doc_id % 2 = 0)
        |ORDER BY doc_id""".stripMargin
  )
}
