package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The end-to-end training-data curation pipeline — the use case the
  * engine's operators exist to compose:
  *
  *  1. quality gate ([[TextAnalysis.qualityScore]] ≥ `qualityMin`);
  *  2. exact dedup (min doc id per distinct text, [[Dedup.exact]]'s
  *     grouping);
  *  3. near-dup clustering over the survivors
  *     ([[Dedup.jaccardPairsBySource]] → [[Dedup.connectedComponents]]);
  *  4. representative selection (keep each component's min doc id,
  *     drop the rest).
  *
  * Every stage is the already-gated operator, composed as one lazy
  * DataFrame plan (only the component loop materializes
  * intermediates); the DuckDB oracle chains the same stages in SQL —
  * quality formula text reused verbatim for bit parity, components
  * via recursive CTE. The stage frames and the staged CTE prefix each
  * exist in ONE copy ([[stages]], [[stagesCte]]) shared by the
  * pipeline and its funnel report, so the two gates can never drift
  * on what the pipeline does.
  *
  * At 100 TB the composition inherits each stage's scale shape:
  * narrow quality scan → hash-shuffle dedup on (hash,text) →
  * triangle-sub-blocked pair join → 16-byte/edge component rounds —
  * no stage joins documents against documents unkeyed.
  */
object Curation {

  /** Shared default knobs — interpolated into [[stagesCte]] so the
    * oracle can never desync from the Scala defaults (the
    * [[Sampling.DefaultJaccardThreshold]] pattern). */
  val DefaultQualityMin = 5000L
  val DefaultJaccardThreshold = 0.6

  /** Domain-filter knobs ([[domainFilter]]) — the mean bar sits above
    * the per-document [[DefaultQualityMin]] (a domain is judged on
    * its typical page, not its best), the census floor keeps
    * one-page domains from passing on a single good document. Both
    * interpolated into the oracle. */
  val DefaultDomainMeanMin = 5250L
  val DefaultDomainMinDocs = 10L

  /** The shared stage frames: (quality-pass, exact-kept, curated),
    * parameterized by the near-dup PAIR DERIVATION over the exact-dedup
    * survivors — the exact-Jaccard arm for the oracle-exact gates, the
    * banded minhash arm for the production-path twin. */
  private def stagesWith(docs: DataFrame, qualityMin: Long,
      pairs: DataFrame => DataFrame,
      cacheKd: Boolean = false): (DataFrame, DataFrame, DataFrame) = {
    val pass = docs.join(
      TextAnalysis.qualityScore(docs)
        .filter(col("quality_x10k") >= qualityMin).select("doc_id"),
      "doc_id")
    val kept = pass.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    // cacheKd: a DEEP docs chain (pipelinePack's canon-domain-filtered
    // corpus) re-derives kd once in the eager pair build and again in
    // the final action — persist it via the run-scoped [[CorpusCache]]
    // lifecycle there. Measured OFF for the plain-corpus gates: the
    // columnar text encode costs more than the shallow recompute it
    // saves (A/B r16: exact-arm gates 1.3–1.4× WITH an unconditional
    // cache, pipeline_pack 0.69×).
    val kdPlain = docs.join(kept, "doc_id")
    val kd = if (cacheKd) CorpusCache.cache(kdPlain) else kdPlain
    val dropList = Dedup.connectedComponents(pairs(kd), "doc_a", "doc_b")
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))
    (pass, kd, kd.join(dropList, Seq("doc_id"), "left_anti"))
  }

  private def stages(docs: DataFrame, qualityMin: Long,
      jaccardThreshold: Double): (DataFrame, DataFrame, DataFrame) =
    stagesWith(docs, qualityMin,
      kd => Dedup.jaccardPairsBySource(kd, jaccardThreshold))

  def curate(docs: DataFrame, qualityMin: Long = DefaultQualityMin,
      jaccardThreshold: Double = DefaultJaccardThreshold): DataFrame = {
    val (_, _, curated) = stages(docs, qualityMin, jaccardThreshold)
    curated
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_curated"), min(col("doc_id")).as("first_doc"))
      .orderBy(col("source"))
  }

  /** The funnel report over the SAME stage frames as [[curate]]: one
    * row per stage with its survivor count and integer basis-point
    * share of the input — what a pipeline owner actually reads after
    * a curation run ("quality dropped 38%, near-dup another 6%").
    * Expressed as a union of per-stage 1-row aggregates in ONE lazy
    * plan; the input total is taken from the stage-0 row via a
    * 4-row window (not a second count of the corpus), and the share
    * is an exact integer (`n·10⁴ div input`), so the oracle compares
    * exact values.
    */
  def curationFunnel(docs: DataFrame, qualityMin: Long = DefaultQualityMin,
      jaccardThreshold: Double = DefaultJaccardThreshold): DataFrame = {
    val (pass, kd, curated) = stages(docs, qualityMin, jaccardThreshold)
    def stage(idx: Int, name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(idx).as("stage_idx"), lit(name).as("stage"),
          col("n_docs"))
    import org.apache.spark.sql.expressions.Window
    stage(0, "input", docs)
      .unionByName(stage(1, "quality_pass", pass))
      .unionByName(stage(2, "exact_kept", kd))
      .unionByName(stage(3, "near_dup_kept", curated))
      // the 4-row union funnels through one task anyway; the empty
      // window frame is the cheap way to read stage 0's count
      .withColumn("n_input",
        max(when(col("stage_idx") === 0, col("n_docs")))
          .over(Window.partitionBy()))
      // empty-corpus guard: ANSI div-by-zero throws in both engines;
      // an empty input reports NULL shares instead
      .withColumn("share_x10k", expr(
        "CASE WHEN n_input = 0 THEN NULL ELSE (n_docs * 10000) div n_input END"))
      .drop("n_input")
      .orderBy(col("stage_idx"))
  }

  /** Per-document drop audit — the row-level complement of
    * [[curationFunnel]]'s stage counts: every input document with the
    * FIRST stage that dropped it (`quality` / `exact_dup` /
    * `near_dup`) or `kept`. This is what a curation owner opens when
    * a source's survival rate moves: which documents, dropped where.
    * Derived from the SAME [[stages]] frames as the pipeline and the
    * funnel (two left-anti-shaped membership probes as left joins +
    * one CASE — no new dataflow), so the three gates cannot drift on
    * what the pipeline does. Scale: three id-keyed equi-joins against
    * frames the pipeline already materializes.
    */
  def curationAudit(docs: DataFrame, qualityMin: Long = DefaultQualityMin,
      jaccardThreshold: Double = DefaultJaccardThreshold): DataFrame =
    auditOf(docs, stages(docs, qualityMin, jaccardThreshold))

  /** The PRODUCTION-PATH audit twin (VERDICT r12 #4 — the sf1.0
    * canary table's worst rows inherited the exact-contrast arm):
    * the identical first-dropping-stage melt as [[curationAudit]],
    * with the near-dup stage clustered over [[Dedup.minhashPairs]]'s
    * banded candidates — the [[curateMinhash]] stage swap applied to
    * the row-level report, so the audit is canary-measured in the
    * minhash scaling class, not the all-pairs-in-block contrast
    * arm's. */
  def curationAuditMinhash(docs: DataFrame,
      qualityMin: Long = DefaultQualityMin): DataFrame =
    auditOf(docs, stagesWith(docs, qualityMin,
      kd => Dedup.minhashPairs(kd)))

  /** The first-dropping-stage melt shared by the exact-arm audit and
    * its minhash production twin — one dataflow, two pair
    * derivations. */
  private def auditOf(docs: DataFrame,
      s: (DataFrame, DataFrame, DataFrame)): DataFrame = {
    val (pass, kd, curated) = s
    docs.select(col("doc_id"), col("source"))
      .join(pass.select(col("doc_id"), lit(1).as("in_pass")), Seq("doc_id"), "left")
      .join(kd.select(col("doc_id"), lit(1).as("in_kd")), Seq("doc_id"), "left")
      .join(curated.select(col("doc_id"), lit(1).as("in_cur")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        when(col("in_pass").isNull, "quality")
          .when(col("in_kd").isNull, "exact_dup")
          .when(col("in_cur").isNull, "near_dup")
          .otherwise("kept").as("outcome"))
      .orderBy(col("doc_id"))
  }

  /** The PRODUCTION-PATH curation twin: identical stage chain, but
    * the near-dup stage clusters over [[Dedup.minhashPairs]]'s banded
    * candidates instead of the exact all-pairs-in-block contrast arm
    * the oracle-exact gates inherit — the one-argument swap the
    * exact-arm gates' Scaladoc promises, now gated itself (band keys
    * are pure per-document functions, so the oracle re-derives the
    * survivor-restricted candidate set from the same full-corpus aux
    * band keys). Canary-measured in the minhash scaling class, not
    * the exact arm's.
    */
  def curateMinhash(docs: DataFrame,
      qualityMin: Long = DefaultQualityMin): DataFrame = {
    val (_, _, curated) = stagesWith(docs, qualityMin,
      kd => Dedup.minhashPairs(kd))
    curated
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_curated"), min(col("doc_id")).as("first_doc"))
      .orderBy(col("source"))
  }

  /** Domain-level curation (the RefinedWeb/UT1 cut re-expressed over
    * the `source` column): a whole domain is kept or dropped on its
    * AGGREGATE document quality — integer mean of the gated
    * [[TextAnalysis.qualityScore]] plus a census floor — and every
    * document inherits its domain's verdict. This is the curation
    * stage that acts BEFORE any per-document model: a spam domain's
    * occasional good page goes with the domain, and a domain too
    * small to judge is not kept on one lucky draw.
    *
    * Scale shape: narrow quality scan → doc-keyed join of two
    * doc-sized frames → ONE |domains|-row aggregate (map-side
    * combined; domain count, not doc count, crosses the wire) →
    * merge-hinted join-back on `source`. The verdict table is
    * corpus-derived (millions of domains at web scale), so it is
    * never broadcast on a size estimate — the same hazard class
    * PlanAudit caught on the line-dedup boilerplate set; a
    * pathologically hot domain in the join-back is AQE skew-join's
    * case ([[graft.ops.SkewJoin]] documents the salted form).
    * `mean_q_x10k` is BIGINT `sum div count` — exact on every engine,
    * no float mean to drift.
    */
  def domainFilter(docs: DataFrame,
      meanMin: Long = DefaultDomainMeanMin,
      minDocs: Long = DefaultDomainMinDocs): DataFrame = {
    val byDoc = docs.select(col("doc_id"), col("source"))
      .join(TextAnalysis.qualityScore(docs), "doc_id")
    val domains = byDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(quality_x10k) div count(1)").as("mean_q_x10k"))
      .filter(col("n_docs") >= minDocs && col("mean_q_x10k") >= meanMin)
    docs.select(col("doc_id"), col("source"))
      .join(domains.hint("merge"), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_docs"),
        col("mean_q_x10k"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------- URL canonicalization

  /** URL/source canonicalization AHEAD of [[domainFilter]]: a real
    * crawl keys documents on raw URLs, where ONE site shows up as N
    * "domains" — scheme-case variants, `www.` prefixes, default
    * ports, tracking query params, fragments, trailing slashes — and
    * every domain-level statistic (census floor, mean quality)
    * silently fragments. The canonicalizer is a fixed rewrite chain
    * of codegen string functions (no UDF), each step a standard
    * member of the crawl-dedup canon:
    *
    *  1. lowercase the scheme+authority (path case is significant);
    *  2. drop the `#fragment` (never sent to the server);
    *  3. strip tracking params (`utm_*`, `gclid`, `fbclid`), healing
    *     the `?`/`&` separators;
    *  4. strip default ports `:80`/`:443`;
    *  5. strip the `www.` host prefix;
    *  6. strip a trailing slash.
    */
  def canonicalizeUrl(url: Column): Column = {
    // lowercase scheme://host[:port] only — anchored, so the global
    // replace touches exactly the authority prefix; a URL with no
    // `//` falls through unchanged (extract yields "", replace is a
    // no-op)
    val lowered = concat(lower(regexp_extract(url, "^[^/]*//[^/]*", 0)),
      regexp_replace(url, "^[^/]*//[^/]*", ""))
    val noFrag = regexp_replace(lowered, "#.*$", "")
    // tracking params: first every one followed by another param
    // (keeps the separator for the successor), then a trailing one
    // together with its own `?`/`&`
    val noTrk = regexp_replace(
      regexp_replace(noFrag, "(utm_[a-z]+|gclid|fbclid)=[^&#]*&", ""),
      "[?&](utm_[a-z]+|gclid|fbclid)=[^&#]*$", "")
    // default ports always precede a path slash here (the synthesis
    // guarantees a path; RE2 has no lookahead, so the oracle twin
    // could not express `:(80|443)(?=/|$)`)
    val noPort = regexp_replace(noTrk, ":(80|443)/", "/")
    val noWww = regexp_replace(noPort, "^([a-z]+://)www\\.", "$1")
    regexp_replace(noWww, "/$", "")
  }

  /** The registrable domain of a canonical URL (host up to the first
    * `/` or `:`). */
  def urlDomain(canonUrl: Column): Column =
    regexp_extract(canonUrl, "^[a-z]+://([^/:]+)", 1)

  /** Deterministic raw-URL synthesis over the fixture (the
    * `mm_exact_dedup`-placeholder pattern: the fixture's `source` is a
    * label, not a URL, so the gate builds crawl-shaped URLs from it —
    * every messiness the canonicalizer handles appears on a doc_id
    * mod class, and one site fans out across scheme-case, `www.`,
    * port, tracking, and slash variants). SQL-expressible by design;
    * the oracle rebuilds the same strings.
    */
  def syntheticUrl: Column = {
    val d = col("doc_id")
    val scheme = when(d % 3 === 0, "https").when(d % 3 === 1, "http")
      .otherwise("HTTPS")
    val www = when(d % 2 === 0, "www.").otherwise("")
    val host = concat(
      when(d % 5 === 0, upper(col("source"))).otherwise(col("source")),
      lit(".example.com"))
    val port = when(d % 7 === 0, ":443").otherwise("")
    val path = concat(lit("/p/"), (d % 100).cast("string"))
    val slash = when(d % 4 === 0, "/").otherwise("")
    val query = when(d % 3 === 0,
        concat(lit("?utm_source=feed&ref="), (d % 10).cast("string")))
      .when(d % 3 === 1,
        concat(lit("?id="), (d % 10).cast("string"), lit("&utm_campaign=x")))
      .otherwise("")
    val frag = when(d % 6 === 0, "#sec2").otherwise("")
    concat(scheme, lit("://"), www, host, port, path, slash, query, frag)
  }

  /** Per-document canonicalization table: raw URL, canonical URL,
    * domain. Narrow single-scan projection — no shuffle at any scale.
    */
  def urlCanon(docs: DataFrame): DataFrame = {
    val withUrl = docs.select(col("doc_id"), syntheticUrl.as("url"))
    withUrl
      .withColumn("canon_url", canonicalizeUrl(col("url")))
      .withColumn("domain", urlDomain(col("canon_url")))
      .orderBy(col("doc_id"))
  }

  /** Eval-registry modulus for the URL decontam fixture blocklist
    * (the decontam family's holdout convention — cf.
    * [[CorpusPrep.decontaminate]]'s `EvalMod`). */
  val EvalUrlMod = 23L

  /** URL-level decontamination — the third decontam modality next to
    * n-gram overlap ([[CorpusPrep.decontaminate]]) and embedding
    * cosine ([[Similarity.evalDecontam]]): a benchmark's provenance
    * is published as URLs, and a corpus page whose CANONICAL URL
    * matches the registry is contamination no matter how its text was
    * re-rendered in flight. Both sides run through
    * [[canonicalizeUrl]], so scheme-case / `www.` / default-port /
    * tracking-param variants of one page cannot dodge the match.
    * Output: flagged corpus docs with the matched canonical URL and
    * how many registry entries collide with it.
    *
    * Scale shape: an eval registry is benchmark-sized (10³–10⁵ URLs) —
    * broadcast-by-contract exactly like the n-gram arm's eval-gram
    * holdout; the corpus side is ONE narrow scan + codegen canon
    * chain + broadcast hash join. The corpus is never shuffled.
    */
  def urlDecontam(docs: DataFrame): DataFrame = {
    val canon = docs.select(col("doc_id"),
      canonicalizeUrl(syntheticUrl).as("canon_url"))
    val evalUrls = canon.filter(col("doc_id") % EvalUrlMod === 0)
      .groupBy(col("canon_url")).agg(count(lit(1)).as("n_eval_hits"))
    canon.filter(col("doc_id") % EvalUrlMod =!= 0)
      .join(broadcast(evalUrls), "canon_url")
      .select(col("doc_id"), col("canon_url"), col("n_eval_hits"))
      .orderBy(col("doc_id"))
  }

  /** The composed per-document CONTAMINATION REPORT — all three
    * decontam modalities, one row per corpus doc: verbatim n-gram
    * overlap ([[CorpusPrep.decontaminate]]), paraphrase-level
    * embedding cosine ([[Similarity.evalDecontam]], `vec_id` is the
    * fixture's doc key), and provenance-level canonical-URL collision
    * ([[urlDecontam]]). Each modality has its own eval holdout
    * (mod 97 / 20 / 23), so a column is NULL when the doc IS that
    * modality's holdout (not screened), 0 when screened clean —
    * the audit distinction a removal pipeline needs. `contaminated`
    * is the any-modality verdict.
    *
    * Scale shape: the three arms keep their audited shapes (each a
    * broadcast-by-contract registry against one corpus scan); the
    * report is three equi left-joins back to the doc-id spine —
    * co-partitionable on the one key, the [[curationAudit]] pattern.
    */
  def decontamReport(docs: DataFrame, emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce => cl}
    val nh = CorpusPrep.decontaminate(docs)
    val eh = Similarity.evalDecontam(
        emb.filter(pmod(col("vec_id"), lit(Similarity.DecontamEvalMod)) =!= 0),
        emb.filter(pmod(col("vec_id"), lit(Similarity.DecontamEvalMod)) === 0),
        threshold = Similarity.DecontamThreshold)
      .select(col("vec_id").as("doc_id"), col("removed"))
    val uh = urlDecontam(docs).select(col("doc_id"), col("n_eval_hits"))
    docs.select(col("doc_id"))
      .join(nh, Seq("doc_id"), "left")
      .join(eh, Seq("doc_id"), "left")
      .join(uh, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % CorpusPrep.EvalMod === 0, lit(null).cast("long"))
          .otherwise(cl(col("n_shared"), lit(0L))).as("ngram_hits"),
        when(col("doc_id") % Similarity.DecontamEvalMod === 0,
            lit(null).cast("int"))
          .otherwise(cl(col("removed"), lit(0))).as("emb_removed"),
        when(col("doc_id") % EvalUrlMod === 0, lit(null).cast("long"))
          .otherwise(cl(col("n_eval_hits"), lit(0L))).as("url_hits"),
        (cl(col("n_shared"), lit(0L)) > 0 ||
          cl(col("removed"), lit(0)) === 1 ||
          cl(col("n_eval_hits"), lit(0L)) > 0).cast("int").as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** [[domainFilter]] COMPOSED over the canonicalizer: documents are
    * re-keyed on the canonical domain before the domain-level verdict,
    * so one site's scheme/www/port/tracking variants aggregate as ONE
    * domain (exactly the fragmentation bug the canonicalizer exists
    * to prevent). Inherits domainFilter's scale shape; the canon step
    * adds only narrow string functions to the scan.
    */
  def domainFilterCanon(docs: DataFrame,
      meanMin: Long = DefaultDomainMeanMin,
      minDocs: Long = DefaultDomainMinDocs): DataFrame =
    domainFilter(
      docs.withColumn("source",
        urlDomain(canonicalizeUrl(syntheticUrl))),
      meanMin, minDocs)
      .withColumnRenamed("source", "domain")

  /** Token budget per source for the composed funnel gate — sized so
    * the budget BINDS on the fixture (some docs sampled out) while
    * the surviving sample still spans multiple pack sequences. */
  val PipelineBudget = 600L

  /** The END-TO-END curation funnel composed into ONE gated lineage
    * (VERDICT r8 item 6): every stage below is individually gated,
    * but composition risk — stage order, frame handoffs, holdout
    * interactions — was what remained. Chain:
    *
    *   url canon → canonical-domain filter → quality floor → exact
    *   dedup → banded near-dup components (the PRODUCTION minhash
    *   arm, not the all-pairs contrast arm) → 3-modality decontam
    *   (any-modality verdict) → per-source token budget → sequence
    *   packing
    *
    * Output is the packed span table over the surviving sample — the
    * artifact a trainer actually reads. The DuckDB oracle re-derives
    * the WHOLE funnel by splicing the gated stage oracles in
    * sequence over the same restricted frames, so no handoff can
    * drift silently.
    *
    * Scale shape: every stage keeps its audited shape (narrow canon
    * scan, |domains|-row aggregate, one quality scan, text-keyed
    * dedup shuffle, banded candidates, three broadcast-registry
    * decontam arms, per-source budget windows, the two-level pack
    * scan); composition itself adds only doc-id equi-joins between
    * stages — co-partitionable on the one key end-to-end.
    */
  def pipelinePack(docs: DataFrame, emb: DataFrame,
      qualityMin: Long = DefaultQualityMin,
      budget: Long = PipelineBudget): DataFrame = {
    val d1 = docs.join(domainFilterCanon(docs).select(col("doc_id")),
      "doc_id")
    // Overlap (guide §2.6): the 3-modality decontam arm depends only
    // on the RAW docs/emb inputs — never on the dedup chain, whose
    // near-dup components build runs eager driver-blocking jobs
    // inside stagesWith. Materializing the arm from a driver thread
    // lets its jobs back-fill executors the eager build leaves idle;
    // the left-anti join below then reads the materialized frame
    // (row-identical — the checkpoint is a plan barrier, not a
    // different computation). Safe to overlap because
    // connectedComponents plans its loop in an ISOLATED session (no
    // shared session-conf race) and the arm builds pure lazy plans.
    // The arm's jobs carry their own tag: if the dedup chain throws,
    // the arm thread is interrupted (no new jobs), then every job it
    // left running is cancelled before the failure reaches the caller.
    val sc = docs.sparkSession.sparkContext
    val armTag = s"graft-decontam-arm-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-decontam-arm"); t.setDaemon(true); t
      })
    val contaminatedF = pool.submit(
      new java.util.concurrent.Callable[DataFrame] {
        override def call(): DataFrame = {
          sc.addJobTag(armTag)
          try CorpusCache.checkpoint(
            decontamReport(docs, emb)
              .filter(col("contaminated") === 1).select(col("doc_id")))
          finally sc.removeJobTag(armTag)
        }
      })
    val clean = try {
      val (_, _, curated) = stagesWith(d1, qualityMin,
        kd => Dedup.minhashPairs(kd), cacheKd = true)
      val contaminated =
        try contaminatedF.get()
        catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
      curated.join(contaminated, Seq("doc_id"), "left_anti")
    } catch {
      case e: Throwable =>
        contaminatedF.cancel(true)
        pool.shutdown()
        pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
        sc.cancelJobsWithTag(armTag)
        throw e
    } finally pool.shutdown()
    val sampled = Sampling.tokenBudgetPerSource(clean, budget)
    Packing.packSequencesOf(
      sampled.select(col("doc_id"), col("n_tok").as("n")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curate_pipeline_pack" -> ((s, d) =>
      pipelinePack(Tables.documents(s, d), Tables.embeddings(s, d))),
    "curate_corpus" -> ((s, d) => curate(Tables.documents(s, d))),
    "curate_domain_filter" -> ((s, d) => domainFilter(Tables.documents(s, d))),
    "curate_corpus_minhash" -> ((s, d) => curateMinhash(Tables.documents(s, d))),
    "curate_funnel" -> ((s, d) => curationFunnel(Tables.documents(s, d))),
    "curate_audit" -> ((s, d) => curationAudit(Tables.documents(s, d))),
    "curate_audit_minhash" -> ((s, d) =>
      curationAuditMinhash(Tables.documents(s, d))),
    "curate_url_canon" -> ((s, d) => urlCanon(Tables.documents(s, d))),
    "curate_url_decontam" -> ((s, d) => urlDecontam(Tables.documents(s, d))),
    "curate_decontam_report" -> ((s, d) =>
      decontamReport(Tables.documents(s, d), Tables.embeddings(s, d))),
    "curate_domain_filter_canon" -> ((s, d) =>
      domainFilterCanon(Tables.documents(s, d)))
  )

  /** The URL synthesis + canonicalization chain in DuckDB SQL — ONE
    * copy shared by the canon gate and the composed domain-filter
    * oracle. Same rewrite steps as [[canonicalizeUrl]] in the same
    * order; DuckDB `regexp_replace` needs the explicit `'g'` flag
    * where Spark's is global by default (only the tracking-param step
    * can match twice), and backrefs are `\\1`, not `$1`.
    */
  private lazy val urlCanonCte: String =
    // `||` never starts a line: the embedding oracles run their OWN
    // stripMargin over the interpolated text, and a leading `||`
    // would lose its first pipe to margin stripping
    """u AS (
      |  SELECT doc_id,
      |    (CASE doc_id % 3 WHEN 0 THEN 'https' WHEN 1 THEN 'http'
      |          ELSE 'HTTPS' END) ||
      |    '://' ||
      |    (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END) ||
      |    (CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END) ||
      |    '.example.com' ||
      |    (CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END) ||
      |    '/p/' || CAST(doc_id % 100 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
      |    (CASE doc_id % 3
      |          WHEN 0 THEN '?utm_source=feed&ref=' || CAST(doc_id % 10 AS VARCHAR)
      |          WHEN 1 THEN '?id=' || CAST(doc_id % 10 AS VARCHAR) || '&utm_campaign=x'
      |          ELSE '' END) ||
      |    (CASE WHEN doc_id % 6 = 0 THEN '#sec2' ELSE '' END) AS url
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, url,
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(
      |            regexp_replace(
      |              regexp_replace(
      |                lower(regexp_extract(url, '^[^/]*//[^/]*')) ||
      |                  regexp_replace(url, '^[^/]*//[^/]*', ''),
      |                '#.*$', ''),
      |              '(utm_[a-z]+|gclid|fbclid)=[^&#]*&', '', 'g'),
      |            '[?&](utm_[a-z]+|gclid|fbclid)=[^&#]*$', ''),
      |          ':(80|443)/', '/'),
      |        '^([a-z]+://)www\.', '\1'),
      |      '/$', '') AS canon_url
      |  FROM u)""".stripMargin

  /** The quality→exact-dedup CTE prefix (q/pass/kept/kd) — shared by
    * the exact-arm chain below AND the minhash-arm oracle. */
  private lazy val qualityKdCte: String = {
    val qualitySql = TextAnalysis.oracles("text_quality")
      .replace(" ORDER BY doc_id", "")
    s"""q AS ($qualitySql),
       |pass AS (
       |  SELECT d.* FROM documents d
       |  JOIN q ON q.doc_id = d.doc_id WHERE q.quality_x10k >= $DefaultQualityMin),
       |kept AS (SELECT min(doc_id) AS doc_id FROM pass GROUP BY text),
       |kd AS (SELECT d.doc_id, d.source, d.text FROM documents d
       |       JOIN kept k ON k.doc_id = d.doc_id)""".stripMargin
  }

  /** The PRODUCTION (minhash) stage chain: quality→exact prefix
    * verbatim, near-dup pairs from the full-corpus aux band keys
    * restricted to the kd survivors, shingle-verified at the minhash
    * threshold, closed, survivors kept. ONE copy shared by the
    * corpus twin and the audit twin. */
  private lazy val minhashStagesCte: String =
    s"""$qualityKdCte,
       |bk AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/minhash_bands/*.parquet')),
       |sh AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/minhash_shingles/*.parquet')),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
       |  FROM bk a JOIN bk b
       |    ON a.band = b.band AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id
       |  JOIN kd ka ON ka.doc_id = a.doc_id
       |  JOIN kd kb ON kb.doc_id = b.doc_id),
       |p AS (
       |  SELECT c.u, c.v FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.u
       |  JOIN sh sb ON sb.doc_id = c.v
       |  WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0 /
       |        (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
       |        >= ${Dedup.DefaultMinhashThreshold}),
       |edges AS (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
       |reach(a, b) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u WHERE e.v != r.a),
       |comp AS (SELECT a AS node, least(a, min(b)) AS component
       |         FROM reach GROUP BY a),
       |curated AS (
       |  SELECT kd.* FROM kd
       |  LEFT JOIN (SELECT node FROM comp WHERE node != component) dl
       |    ON kd.doc_id = dl.node
       |  WHERE dl.node IS NULL)""".stripMargin

  /** The staged CTE prefix (quality → exact dedup → pair join →
    * recursive closure → curated) — ONE copy shared by both oracles,
    * with [[TextAnalysis]]'s gated quality SQL inlined verbatim for
    * bit parity.
    */
  private lazy val stagesCte: String = {
    s"""$qualityKdCte,
       |t AS (
       |  SELECT doc_id, source,
       |         list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS toks
       |  FROM kd),
       |pairs AS (
       |  SELECT a.doc_id AS u, b.doc_id AS v
       |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
       |        len(list_distinct(list_concat(a.toks, b.toks))) >= $DefaultJaccardThreshold),
       |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
       |reach(a, b) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u WHERE e.v != r.a),
       |comp AS (SELECT a AS node, least(a, min(b)) AS component
       |         FROM reach GROUP BY a),
       |curated AS (
       |  SELECT kd.* FROM kd
       |  LEFT JOIN (SELECT node FROM comp WHERE node != component) dl
       |    ON kd.doc_id = dl.node
       |  WHERE dl.node IS NULL)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // the WHOLE funnel re-derived stage by stage: canon/domain filter
    // over the shared canon CTE, quality floor + exact dedup on the
    // RESTRICTED frame, banded near-dup from the aux band keys
    // limited to survivors (the curate_corpus_minhash discipline),
    // the three decontam arms spliced verbatim, the token-budget
    // window over the clean frame, and the pack span derivation
    "curate_pipeline_pack" -> {
      val qualitySql = TextAnalysis.oracles("text_quality")
        .replace(" ORDER BY doc_id", "")
      val ng = CorpusPrep.oracles("text_decontam")
        .replace(" ORDER BY 1", "")
      val em = Similarity.oracles("decontam_embedding")
        .replace(" ORDER BY vec_id", "")
      val B = Packing.SeqBudget
      s"""WITH RECURSIVE $urlCanonCte,
         |q AS ($qualitySql),
         |dmn AS (SELECT doc_id,
         |          regexp_extract(canon_url, '^[a-z]+://([^/:]+)', 1) AS domain
         |        FROM c),
         |dom AS (
         |  SELECT domain, count(*) AS n_docs,
         |         CAST(sum(quality_x10k) // count(*) AS BIGINT) AS mean_q
         |  FROM dmn JOIN q USING (doc_id) GROUP BY domain),
         |d1 AS (
         |  SELECT d.doc_id, d.source, d.text FROM documents d
         |  JOIN dmn ON dmn.doc_id = d.doc_id
         |  JOIN dom ON dom.domain = dmn.domain
         |  WHERE dom.n_docs >= $DefaultDomainMinDocs
         |    AND dom.mean_q >= $DefaultDomainMeanMin),
         |pass AS (
         |  SELECT d1.* FROM d1 JOIN q ON q.doc_id = d1.doc_id
         |  WHERE q.quality_x10k >= $DefaultQualityMin),
         |kept AS (SELECT min(doc_id) AS doc_id FROM pass GROUP BY text),
         |kd AS (SELECT p.* FROM pass p JOIN kept k ON k.doc_id = p.doc_id),
         |bk AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/minhash_bands/*.parquet')),
         |sh AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/minhash_shingles/*.parquet')),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS pu, b.doc_id AS pv
         |  FROM bk a JOIN bk b
         |    ON a.band = b.band AND a.band_key = b.band_key
         |   AND a.doc_id < b.doc_id
         |  JOIN kd ka ON ka.doc_id = a.doc_id
         |  JOIN kd kb ON kb.doc_id = b.doc_id),
         |vp AS (
         |  SELECT c2.pu, c2.pv FROM cand c2
         |  JOIN sh sa ON sa.doc_id = c2.pu
         |  JOIN sh sb ON sb.doc_id = c2.pv
         |  WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0 /
         |        (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
         |        >= ${Dedup.DefaultMinhashThreshold}),
         |edges AS (SELECT pu AS u, pv AS v FROM vp
         |          UNION ALL SELECT pv, pu FROM vp),
         |reach(a, b) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u WHERE e.v != r.a),
         |comp AS (SELECT a AS node, least(a, min(b)) AS component
         |         FROM reach GROUP BY a),
         |curated AS (
         |  SELECT kd.* FROM kd
         |  LEFT JOIN (SELECT node FROM comp WHERE node != component) dl
         |    ON kd.doc_id = dl.node
         |  WHERE dl.node IS NULL),
         |ue AS (SELECT canon_url, count(*) AS n_eval_hits FROM c
         |       WHERE doc_id % $EvalUrlMod = 0 GROUP BY canon_url),
         |uh AS (SELECT c.doc_id, ue.n_eval_hits
         |       FROM c JOIN ue USING (canon_url)
         |       WHERE c.doc_id % $EvalUrlMod <> 0),
         |nh AS (SELECT doc_id, n_shared FROM ($ng)),
         |eh AS (SELECT vec_id AS doc_id, removed FROM ($em)),
         |cont AS (
         |  SELECT d.doc_id FROM documents d
         |  LEFT JOIN nh ON nh.doc_id = d.doc_id
         |  LEFT JOIN eh ON eh.doc_id = d.doc_id
         |  LEFT JOIN uh ON uh.doc_id = d.doc_id
         |  WHERE coalesce(nh.n_shared, 0) > 0
         |     OR coalesce(eh.removed, 0) = 1
         |     OR coalesce(uh.n_eval_hits, 0) > 0),
         |clean AS (
         |  SELECT cu.* FROM curated cu
         |  LEFT JOIN cont ON cont.doc_id = cu.doc_id
         |  WHERE cont.doc_id IS NULL),
         |tb AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tok,
         |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS hk
         |  FROM clean),
         |sampled AS (
         |  SELECT doc_id, n_tok FROM (
         |    SELECT doc_id, n_tok,
         |           sum(n_tok) OVER (PARTITION BY source ORDER BY hk, doc_id
         |                            ROWS BETWEEN UNBOUNDED PRECEDING
         |                            AND CURRENT ROW) - n_tok AS cum_before
         |    FROM tb)
         |  WHERE cum_before < $PipelineBudget),
         |o AS (
         |  SELECT doc_id, n_tok AS n,
         |         CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
         |  FROM sampled WHERE n_tok > 0)
         |SELECT CAST(t.seq AS BIGINT) AS seq_id, doc_id,
         |       CAST(greatest(off, t.seq*$B) - t.seq*$B AS BIGINT) AS start_in_seq,
         |       CAST(greatest(off, t.seq*$B) - off AS BIGINT) AS doc_off,
         |       CAST(least(off + n, (t.seq+1)*$B)
         |            - greatest(off, t.seq*$B) AS BIGINT) AS n_toks
         |FROM o, unnest(range(off // $B, (off + n - 1) // $B + 1)) AS t(seq)
         |ORDER BY seq_id, doc_id""".stripMargin
    },
    // domain verdicts re-derived from the shared quality SQL: integer
    // mean per source, census floor, every doc inherits its domain
    "curate_url_canon" ->
      s"""WITH $urlCanonCte
         |SELECT doc_id, url, canon_url,
         |       regexp_extract(canon_url, '^[a-z]+://([^/:]+)', 1) AS domain
         |FROM c ORDER BY doc_id""".stripMargin,
    "curate_url_decontam" ->
      s"""WITH $urlCanonCte,
         |e AS (SELECT canon_url, count(*) AS n_eval_hits FROM c
         |      WHERE doc_id % $EvalUrlMod = 0 GROUP BY canon_url)
         |SELECT c.doc_id, c.canon_url, e.n_eval_hits
         |FROM c JOIN e USING (canon_url)
         |WHERE c.doc_id % $EvalUrlMod <> 0
         |ORDER BY c.doc_id""".stripMargin,
    // the three modality oracles composed VERBATIM (the n-gram and
    // embedding texts spliced as WITH-subqueries, the URL arm from the
    // shared canon CTE) — the report can never drift from its arms
    "curate_decontam_report" -> {
      val ng = CorpusPrep.oracles("text_decontam")
        .replace(" ORDER BY 1", "")
      val em = Similarity.oracles("decontam_embedding")
        .replace(" ORDER BY vec_id", "")
      s"""WITH $urlCanonCte,
         |ue AS (SELECT canon_url, count(*) AS n_eval_hits FROM c
         |       WHERE doc_id % $EvalUrlMod = 0 GROUP BY canon_url),
         |uh AS (SELECT c.doc_id, ue.n_eval_hits
         |       FROM c JOIN ue USING (canon_url)
         |       WHERE c.doc_id % $EvalUrlMod <> 0),
         |nh AS (SELECT doc_id, n_shared FROM ($ng)),
         |eh AS (SELECT vec_id AS doc_id, removed FROM ($em))
         |SELECT d.doc_id,
         |  CASE WHEN d.doc_id % ${CorpusPrep.EvalMod} = 0 THEN NULL
         |       ELSE coalesce(nh.n_shared, 0) END AS ngram_hits,
         |  CAST(CASE WHEN d.doc_id % ${Similarity.DecontamEvalMod} = 0 THEN NULL
         |       ELSE coalesce(eh.removed, 0) END AS INTEGER) AS emb_removed,
         |  CASE WHEN d.doc_id % $EvalUrlMod = 0 THEN NULL
         |       ELSE coalesce(uh.n_eval_hits, 0) END AS url_hits,
         |  CAST(CASE WHEN coalesce(nh.n_shared, 0) > 0
         |            OR coalesce(eh.removed, 0) = 1
         |            OR coalesce(uh.n_eval_hits, 0) > 0
         |       THEN 1 ELSE 0 END AS INTEGER) AS contaminated
         |FROM documents d
         |LEFT JOIN nh USING (doc_id)
         |LEFT JOIN eh USING (doc_id)
         |LEFT JOIN uh USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },
    "curate_domain_filter_canon" -> {
      val qualitySql = TextAnalysis.oracles("text_quality")
        .replace(" ORDER BY doc_id", "")
      s"""WITH q AS ($qualitySql),
         |$urlCanonCte,
         |d AS (SELECT doc_id,
         |        regexp_extract(canon_url, '^[a-z]+://([^/:]+)', 1) AS domain
         |      FROM c),
         |dom AS (
         |  SELECT domain, count(*) AS n_docs,
         |         CAST(sum(quality_x10k) // count(*) AS BIGINT) AS mean_q_x10k
         |  FROM d JOIN q USING (doc_id) GROUP BY domain)
         |SELECT d.doc_id, d.domain, dom.n_docs, dom.mean_q_x10k
         |FROM d JOIN dom ON d.domain = dom.domain
         |WHERE dom.n_docs >= $DefaultDomainMinDocs
         |  AND dom.mean_q_x10k >= $DefaultDomainMeanMin
         |ORDER BY d.doc_id""".stripMargin
    },
    "curate_domain_filter" -> {
      val qualitySql = TextAnalysis.oracles("text_quality")
        .replace(" ORDER BY doc_id", "")
      s"""WITH q AS ($qualitySql),
         |d AS (SELECT doc_id, source FROM documents),
         |dom AS (
         |  SELECT source, count(*) AS n_docs,
         |         CAST(sum(quality_x10k) // count(*) AS BIGINT) AS mean_q_x10k
         |  FROM d JOIN q USING (doc_id) GROUP BY source)
         |SELECT d.doc_id, d.source, dom.n_docs, dom.mean_q_x10k
         |FROM d JOIN dom ON d.source = dom.source
         |WHERE dom.n_docs >= $DefaultDomainMinDocs
         |  AND dom.mean_q_x10k >= $DefaultDomainMeanMin
         |ORDER BY d.doc_id""".stripMargin
    },
    "curate_corpus" ->
      s"""WITH RECURSIVE
         |$stagesCte
         |SELECT source, count(*) AS n_curated, min(doc_id) AS first_doc
         |FROM curated GROUP BY source ORDER BY source""".stripMargin,
    // the production-path twin: the SAME quality→exact prefix, near-dup
    // pairs re-derived from the full-corpus aux band keys restricted to
    // the kd survivors (band keys are pure per-document functions, so
    // the restriction is exact), verified against the aux shingles at
    // the minhash gate threshold, then the same closure + survivors
    "curate_corpus_minhash" ->
      s"""WITH RECURSIVE
         |$minhashStagesCte
         |SELECT source, count(*) AS n_curated, min(doc_id) AS first_doc
         |FROM curated GROUP BY source ORDER BY source""".stripMargin,
    // the minhash stage chain melted to the row-level audit — the
    // production twin of curate_audit (VERDICT r12 #4)
    "curate_audit_minhash" ->
      s"""WITH RECURSIVE
         |$minhashStagesCte
         |SELECT d.doc_id, d.source,
         |       CASE WHEN p.doc_id IS NULL THEN 'quality'
         |            WHEN k.doc_id IS NULL THEN 'exact_dup'
         |            WHEN c.doc_id IS NULL THEN 'near_dup'
         |            ELSE 'kept' END AS outcome
         |FROM documents d
         |LEFT JOIN pass p ON p.doc_id = d.doc_id
         |LEFT JOIN kd k ON k.doc_id = d.doc_id
         |LEFT JOIN curated c ON c.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // the same staged CTE chain, melted to one first-dropping-stage
    // row per input document
    "curate_audit" ->
      s"""WITH RECURSIVE
         |$stagesCte
         |SELECT d.doc_id, d.source,
         |       CASE WHEN p.doc_id IS NULL THEN 'quality'
         |            WHEN k.doc_id IS NULL THEN 'exact_dup'
         |            WHEN c.doc_id IS NULL THEN 'near_dup'
         |            ELSE 'kept' END AS outcome
         |FROM documents d
         |LEFT JOIN pass p ON p.doc_id = d.doc_id
         |LEFT JOIN kd k ON k.doc_id = d.doc_id
         |LEFT JOIN curated c ON c.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // the same staged CTE chain, reduced to per-stage survivor counts
    "curate_funnel" ->
      s"""WITH RECURSIVE
         |$stagesCte,
         |f AS (
         |  SELECT 0 AS stage_idx, 'input' AS stage,
         |         (SELECT count(*) FROM documents) AS n_docs
         |  UNION ALL SELECT 1, 'quality_pass', (SELECT count(*) FROM pass)
         |  UNION ALL SELECT 2, 'exact_kept', (SELECT count(*) FROM kd)
         |  UNION ALL SELECT 3, 'near_dup_kept', (SELECT count(*) FROM curated))
         |SELECT stage_idx, stage, n_docs,
         |       CASE WHEN (SELECT count(*) FROM documents) = 0 THEN NULL
         |            ELSE (n_docs * 10000) // (SELECT count(*) FROM documents)
         |       END AS share_x10k
         |FROM f ORDER BY stage_idx""".stripMargin
  )
}
