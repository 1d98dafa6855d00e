package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.joins._

/** Whole-registry join-strategy audit (developer-side main): for
  * every batch gate, print the physical join inventory and flag any
  * `BroadcastHashJoin` whose BUILD side contains a `Generate` — the
  * round-4 failure signature, where
  * explode-derived lineage defeats Catalyst's size estimation and a
  * corpus-sized frame gets guessed small and broadcast (accelerating
  * super-quadratic wall-clock locally; driver/executor OOM on a
  * cluster).
  *
  * Run with AQE disabled: the STATIC planner makes the hazardous
  * choice, and `AdaptiveSparkPlanExec` hides the join tree from
  * `collect`. Streaming/generator gates are skipped (their query
  * construction executes the replay).
  *
  * A flag is not automatically a bug — explicit `broadcast()` of a
  * side bounded BY CONTRACT also explodes (LSH/IVF query probes, the
  * skew-join's replicated dim, decontamination eval n-grams). The
  * sanctioned set is listed here and asserted in PlansSpec's
  * pair-join regression test; anything NEW in the flag list is a
  * finding.
  */
object PlanAudit {

  /** Gates whose flagged broadcast is an explicit bounded-by-contract
    * side (reviewed round 4). */
  val sanctioned = Set(
    "sim_ann_ivf",       // broadcast(qProbes): queries × nprobe
    "sim_ann_ivf_incremental", // broadcast(batch probes): ingest batch × nprobe — broadcast-sized BY the ingest contract (see Similarity.ivfIncrementalFor)
    "sim_ann_lsh",       // broadcast(bucketed(queries)): probe set
    "sim_hard_negatives", // broadcast(qProbes + labels): the same bounded query probe set as sim_ann_ivf, explicit (reviewed round 6 — the gate postdated the round-4 review)
    "vocab_oov_rate",    // broadcast(vocab): ≤ maxVocab tokens BY CONTRACT (capped dictionary), explicit
    "skew_join_segment", // replicated small dim — the operator's design
    "text_decontam",     // eval-set n-grams — bounded holdout
    "curate_url_decontam", // broadcast(eval canon URLs): benchmark-sized registry holdout, the text_decontam class (reviewed round 8)
    "curate_decontam_report", // the three decontam arms composed — inherits exactly their sanctioned registry broadcasts (eval grams + eval vectors + eval canon URLs), each bounded holdout-by-contract (reviewed round 8)
    "unigram_segment", // broadcast(unigram vocab): ≤ UnigramVocabCap + alphabet rows BY CONTRACT (capped candidate vocabulary), the vocab_oov_rate class (reviewed round 8)
    "unigram_viterbi_counts", // same broadcast(vocab) through the E-step path explode (reviewed round 8)
    "unigram_encode_stats", // same broadcast(vocab) inherited through the segmenter lineage; the token-stream join-back itself is merge-hinted, never broadcast (reviewed round 8)
    "tokenizer_compare", // inherits bpe_encode_ids' broadcast(wordIds ≤ BpeVocabCap) and unigram_encode_stats' broadcast(vocab ≤ cap) — both capped-by-contract; the doc-id comparison join is shuffle (reviewed round 8)
    "unigram_fertility_by_lang", // same broadcast(vocab ≤ cap) inherited through unigram_encode_stats; the lang join-back is doc-keyed shuffle (reviewed round 8)
    "unigram_vocab_pruned", // same broadcast(vocab) underneath the usage join; the pruned set is a subset of the capped vocab (reviewed round 8)
    "unigram_segment_pruned", // broadcast(pruned vocab): subset of the capped round-1 vocabulary, same bound (reviewed round 8)
    "unigram_segment_multi", // broadcast(collected literal model): the same ≤ cap + alphabet rows, now a driver-collected literal frame (reviewed round 8)
    "sample_importance", // broadcast(dsirLogRatio): ≤ DsirBuckets (4096) rows BY groupBy construction, explicit (reviewed round 7)
    "sim_ivf_recall",    // broadcast(qProbes) via the reused ivfTopK — the same bounded probe set sanctioned for sim_ann_ivf (reviewed round 7)
    "bpe_encode_ids",    // broadcast(wordIds): ≤ BpeVocabCap rows BY CONTRACT (capped trained vocabulary), explicit (reviewed round 8)
    "bpe_encode_ids_deep", // same broadcast(wordIds) through the deep trainer's dict (reviewed round 8)
    "text_classifier_score", // broadcast(weights): ≤ 4096 rows BY the 3-hex-char bucket space, explicit (reviewed round 8)
    "text_classifier_trained", // broadcast(trained weights): same ≤ 4096-row bound BY the bucket groupBy — the sample_importance class; the build lineage contains the training explode but the aggregate bounds the broadcast VALUE (reviewed round 8)
    "pack_encoded_ids",  // same broadcast(wordIds), inherited through the encode→pack composition (reviewed round 8)
    "bpe_fertility_by_lang", // same broadcast(wordIds), inherited through the encode→fertility composition (reviewed round 8)
    "bpe_artifact_roundtrip", // the bpe_encode_ids broadcast(wordIds ≤ BpeVocabCap) with the vocab LOADED from the artifact — the artifact is written under the same capped-dict collect contract, so the bound survives persistence (reviewed round 9)
    "bpe_artifact_cross_encode", // the same loaded-artifact broadcast(wordIds ≤ cap); the encode corpus differs from the training corpus but the broadcast side is still the capped trained vocab (reviewed round 9)
    "unigram_artifact_roundtrip", // broadcast(persisted unigram model): ≤ cap + alphabet rows BY the write-side contract, the unigram_segment class through the shared viterbiDp (reviewed round 9)
    "unigram_artifact_cross_encode", // the same loaded-model broadcast, unk-covered: the augmentation adds at most |encode alphabet| rows, so the cap + alphabet bound holds (reviewed round 9)
    "unigram_em_loss", // broadcast(vocab ≤ cap + alphabet) in BOTH the base DP and the per-(word, excluded-piece) probe entries — the same capped vocabulary twice; the (word, exc)-keyed map join is a shuffle (reviewed round 9)
    "unigram_vocab_em_pruned", // inherits unigram_em_loss' capped-vocab broadcasts + the usage path's + a 1-row count crossJoin for the prune threshold — all bounded (reviewed round 9)
    "unigram_train_em", // broadcast(collected literal model ≤ cap + alphabet): the unigram_segment_multi class with the EM criterion (reviewed round 9)
    "unigram_soft_counts", // broadcast(vocab ≤ cap + alphabet) in the Viterbi-scaling base DP and again under the forward–backward probe map — the unigram_segment class twice; the probes↔fold join-back is merge-hinted shuffle, never broadcast (reviewed round 10)
    "unigram_vocab_em_soft", // inherits unigram_em_loss' and unigram_soft_counts' capped-vocab broadcasts + the 1-row prune-threshold crossJoin — all bounded (reviewed round 10)
    "unigram_train_em_soft", // broadcast(collected literal model ≤ cap + alphabet): the unigram_train_em class with the lattice count estimator (reviewed round 10)
    "unigram_segment_nbest", // broadcast(vocab ≤ cap + alphabet) under the k-best fold's probe map — the unigram_segment class (reviewed round 10)
    "curate_pipeline_pack", // the composed funnel inherits EXACTLY its stages' sanctioned broadcasts: the three decontam registry holdouts (curate_decontam_report class), the |domains|-row filter aggregate, and Packing's bucket-count-bounded offset prefix — nothing new broadcasts (reviewed round 9)
    "bpe_encode_dropout", // inherits bpe_encode_ids' broadcast(wordIds ≤ BpeVocabCap) through the conditionally-merged dropout dict — the bpe_encode_ids_deep class; the drop decision is a narrow per-word hash, no new broadcast (reviewed round 12 — the gate landed round 11 without an audit pass)
    "unigram_segment_sampled", // broadcast(vocab ≤ cap + alphabet) under the shared k-best fold — the unigram_segment_nbest class; the per-word selection-hash join is word-keyed shuffle (reviewed round 12 — same round-11 audit gap)
    "sim_ann_ivfpq",     // broadcast(probes ≤ queries × nProbe, qTables ≤ queries × m·kSub doubles, cand ≤ queries × k × rerank, qFull ≤ queries) — all query-side bounded BY CONTRACT; the corpus-sized codes frame streams through the cluster join (reviewed round 14)
    "sim_ann_ivfpq_incremental", // the same bounded sides with the INGEST BATCH as the query side — broadcast-sized BY the ingest contract, the sim_ann_ivf_incremental class (reviewed round 14)
    "sim_ivfpq_recall")  // the sim_ann_ivfpq broadcasts inherited through the reused ivfPqTopK + bruteTopK's bounded query side (reviewed round 14)

  /** A UNIT pin — `explode(array(x))`, one row in, one row out — is
    * not the hazard this audit hunts: it multiplies nothing and
    * passes child size statistics through essentially unchanged (the
    * idiom exists to stop interpreted-HOF re-evaluation; see
    * CorpusPrep.gramArrays). Only row-multiplying generators mark a
    * build side as estimation-blind.
    */
  def isUnitPin(g: GenerateExec): Boolean = g.generator match {
    case org.apache.spark.sql.catalyst.expressions.Explode(
      ca: org.apache.spark.sql.catalyst.expressions.CreateArray) =>
      ca.children.size == 1
    case _ => false
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.configure(
      SparkSession.builder().master("local[8]"), "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val skip = Set("stream_", "gen_")
    var findings = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!skip.exists(name.startsWith)) {
        try {
          val plan = fn(spark, dir).queryExecution.executedPlan
          val hazardous = plan.collect { case j: BroadcastHashJoinExec =>
            val build = j.buildSide match {
              case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
              case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
            }
            build.collect { case g: GenerateExec if !isUnitPin(g) => g }.nonEmpty
          }.count(identity)
          val joins = plan.collect {
            case _: BroadcastHashJoinExec => "BHJ"
            case _: SortMergeJoinExec => "SMJ"
            case _: ShuffledHashJoinExec => "SHJ"
            case _: BroadcastNestedLoopJoinExec => "BNLJ"
            case _: CartesianProductExec => "CARTESIAN"
          }
          val tag =
            if (hazardous == 0) ""
            else if (sanctioned(name)) "  [sanctioned bounded-side broadcast]"
            else { findings += 1; "  <<< FINDING: broadcast over Generate" }
          println(f"AUDIT $name%-32s ${joins.groupBy(identity)
            .map { case (k, v) => s"$k=${v.size}" }.toSeq.sorted.mkString(",")}$tag")
        } catch { case e: Throwable =>
          findings += 1
          println(s"AUDIT $name ERROR ${String.valueOf(e.getMessage).take(100)}")
        }
      }
    }
    spark.stop()
    if (findings > 0) {
      System.err.println(s"[audit] $findings unsanctioned finding(s)")
      sys.exit(1)
    }
  }
}
