package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.RunScratch
import graft.sources.Tables

/** Tokenizer ARTIFACT persistence — the production
  * train-once / encode-many lifecycle the in-lineage operators of
  * [[CorpusPrep]] deliberately fuse: a real pipeline trains a
  * tokenizer ONCE (an expensive corpus-wide job), persists the
  * trained state as a table artifact, and then any number of encode
  * jobs — other clusters, other days, other corpora — load the
  * artifact and encode without ever re-deriving training.
  *
  * The artifact layout is plain parquet under a directory, so the
  * "format" is the engine's own table format — no bespoke
  * serialization, readable by any engine (the DuckDB oracle could
  * read it directly). Six tables over four families:
  *
  *   <dir>/bpe_merges        (round, p, q, cnt) — the learned merge
  *                           table, the canonical BPE artifact
  *   <dir>/bpe_vocab         (word, wc, syms)   — the merged
  *                           word→symbols dictionary the encoder
  *                           probes
  *   <dir>/bytebpe_merges    (round, p, q, cnt) — byte-level BPE's
  *                           hex-pair merges
  *   <dir>/bytebpe_vocab     (word, wc, syms)   — the merged
  *                           pre-token dictionary
  *   <dir>/wordpiece_vocab   (piece)            — the piece inventory
  *                           the greedy encoder probes (plain =
  *                           word-initial, `##` = continuation)
  *   <dir>/unigram_model     (piece, freq, cost) — the unigram-LM
  *                           vocabulary with snap-once integer
  *                           nano-nat costs
  *
  * Scale shape: everything persisted is VOCABULARY-BOUNDED state
  * (the capped word dict / the capped piece vocabulary — the same
  * ≤2²⁰-row contract the deep trainer collects under), so the
  * artifact is megabytes at 100 TB corpus scale, and the encode-side
  * load is a broadcast-by-contract probe table exactly like the
  * in-lineage path. The corpus-sized cost (one word-count shuffle)
  * is paid once at write time, never by readers.
  *
  * Equality is PROVEN, not asserted: the roundtrip gates
  * (`bpe_artifact_roundtrip`, `unigram_artifact_roundtrip`) write
  * the artifact, reload it in a fresh lineage, encode, and
  * hash-match the SAME DuckDB oracles as the in-lineage
  * `bpe_encode_ids` / `unigram_encode_stats` gates — artifact ≡
  * in-lineage, bit for bit, checked every round.
  */
object TokenizerArtifact {

  /** Target rows per artifact parquet file for the contract-bounded
    * tables (merge tables, the WordPiece vocab, the unigram model).
    * Their write parallelism is DERIVED from the same constants the
    * collect contracts bound the row counts with —
    * `⌈cap / ArtifactRowsPerFile⌉` writer tasks — instead of a
    * literal `coalesce(1)` (advisory r9 latent #2: a raised cap must
    * widen the write fan-out in the SAME motion, or the raise
    * silently produces a one-task multi-gigabyte file). At the
    * current caps the unigram model and a default-depth merge table
    * are 1 file each. The two merge-family vocab tables follow the
    * actual row count instead ([[dictFrame]]). */
  val ArtifactRowsPerFile: Long = 1L << 17

  /** Alphabet bound for the unigram model's row-count contract
    * (model rows ≤ [[CorpusPrep.UnigramVocabCap]] + alphabet): 2¹⁶
    * covers the whole BMP — no natural-language tokenizer alphabet
    * approaches it, and the bound only sizes the write fan-out. */
  val UnigramAlphabetBound: Long = 1L << 16

  private[graft] def artifactParts(cap: Long): Int =
    math.max(1L, (cap + ArtifactRowsPerFile - 1) / ArtifactRowsPerFile)
      .toInt

  /** The contract-bounded table writer: ≤ `cap` rows by a collect
    * contract, fanned out to [[artifactParts]]`(cap)` files. */
  private def writeBounded(table: DataFrame, cap: Long, path: String)
      : Unit =
    table.repartition(artifactParts(cap)).write.mode("overwrite")
      .parquet(path)

  /** Train (deep loop — the production-depth trainer) and persist
    * both BPE artifacts: ONE distributed word count + capped collect,
    * one in-memory merge loop, two vocabulary-bounded writes
    * ([[writeMergeArtifact]]). */
  def bpeWrite(docs: DataFrame, dir: String,
      rounds: Int = CorpusPrep.BpeMergeRoundsN): Unit = {
    val dictRows = CorpusPrep.bpeDictCollect(docs)
    val (merges, words) =
      CorpusPrep.deepMergeLoop(dictRows, rounds, CorpusPrep.CharBpe)
    writeMergeArtifact(docs.sparkSession, s"$dir/bpe", rounds,
      CorpusPrep.countMerges(merges), dictRows, words)
  }

  /** The merge-family artifact writer (char- and byte-level BPE):
    * `<prefix>_merges` (round, p, q, cnt), fan-out via
    * [[artifactParts]] of the round count, and `<prefix>_vocab`
    * (word, wc, syms), the merged dictionary, through [[dictFrame]]. */
  private def writeMergeArtifact(spark: SparkSession, prefix: String,
      rounds: Int, merges: Seq[(Int, String, String, Long)],
      dictRows: Array[(String, Long)], words: Array[Array[String]]): Unit = {
    import spark.implicits._
    writeBounded(merges.toDF("round", "p", "q", "cnt"), rounds.toLong,
      s"${prefix}_merges")
    dictFrame(spark, "word STRING, wc BIGINT, syms ARRAY<STRING>",
        dictRows.zip(words).toIndexedSeq.map { case ((w, wc), syms) =>
          Row(w, wc, syms.toIndexedSeq) })
      .write.mode("overwrite").parquet(s"${prefix}_vocab")
  }

  /** A corpus-vocabulary-sized dictionary (≤ [[CorpusPrep.BpeDictCap]]
    * rows by the collect contract) as a DISTRIBUTED frame:
    * `parallelize` the rows instead of embedding them as a `toDF`
    * LocalRelation in the plan (the r14 sf1.0 sweep catch — a
    * vocabulary-sized LocalRelation re-serializes with every plan
    * that references it and melted 5× under session heap pressure).
    * Fan-out rule: `min(defaultParallelism, rows / 10000 + 1)`
    * slices — one per 10⁴ rows, capped at the session's parallelism —
    * and a write of the frame emits at most one file per slice. Merge
    * tables and cap-16/32 frames stay `toDF`: they are
    * rounds/cap-bounded tiny. */
  private[ext] def dictFrame(spark: SparkSession, ddl: String,
      rows: IndexedSeq[Row]): DataFrame = {
    val parts = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, rows.length / 10000 + 1))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts),
      StructType.fromDDL(ddl))
  }

  /** Encode documents through a PERSISTED BPE artifact: load the
    * vocab table (vocabulary-bounded by the write-side contract) and
    * run the identical encode core as [[CorpusPrep.bpeEncodeIds]] —
    * no training stage anywhere in this lineage. */
  def bpeEncodeIds(docs: DataFrame, dir: String,
      cap: Int = CorpusPrep.BpeVocabCap): DataFrame =
    CorpusPrep.bpeEncodeIdsFrom(docs,
      docs.sparkSession.read.parquet(s"$dir/bpe_vocab"), cap)

  /** The DROPOUT-reinterpreted dictionary from a persisted artifact
    * (VERDICT r13 #4 — the BPE side of the streaming
    * subword-regularization pair): each vocab word's symbols
    * re-derive from its characters by folding the PERSISTED merge
    * table ([[CorpusPrep.bpeDropoutFold]], the in-lineage gate's
    * fold), skipping merge r for word w iff the seeded
    * (word, round) hash bucket lands under the rate — train state
    * untouched (dropout is an encode-time reinterpretation of the
    * same merges, Provilkov et al. 2020), and the whole frame is a
    * pure function of (artifact, seed): batch-independent, so a
    * stream derives it ONCE at start and every micro-batch (and
    * every crash-replay) encodes against the identical dict. Bounded
    * by the artifact's vocabulary contract. */
  private def bpeDropoutDictFrom(spark: SparkSession, dir: String)
      : DataFrame = {
    val merges = spark.read.parquet(s"$dir/bpe_merges")
      .orderBy(col("round")).collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[String]("p"),
        r.getAs[String]("q")))
    CorpusCache.checkpoint(CorpusPrep.bpeDropoutFold(
      spark.read.parquet(s"$dir/bpe_vocab")
        .select(col("word"), col("wc"), split(col("word"), "").as("syms")),
      merges.toSeq))
  }

  /** Train (deep loop) and persist the WordPiece artifact — the
    * artifact lifecycle of the third tokenizer family (VERDICT r11 #1):
    *
    *   <dir>/wordpiece_vocab   (piece)  — the piece inventory the
    *                           greedy encoder probes (plain =
    *                           word-initial, `##` = continuation)
    *
    * Greedy encoding reads only the inventory, so the merge table
    * stays in the trainer (the `wordpiece_merges` gate derives it in
    * lineage). `vocabCap` is the `vocab_size` truncation at WRITE time
    * (the production knob): the persisted inventory keeps the top-cap
    * pieces by occurrence weight, and encode-side [UNK]s follow from
    * the artifact alone. ≤ alphabet + rounds rows by the
    * one-new-symbol-per-round contract — megabytes at any corpus
    * scale, fan-out via [[artifactParts]]. */
  def wordPieceWrite(docs: DataFrame, dir: String,
      rounds: Int = CorpusPrep.WordPieceRoundsN,
      vocabCap: Int = Int.MaxValue): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    writeBounded(CorpusPrep.wordPieceVocabOf(
        CorpusPrep.wordPieceDictCollect(docs), rounds, vocabCap).toDF("piece"),
      rounds.toLong + UnigramAlphabetBound, s"$dir/wordpiece_vocab")
  }

  /** Greedy-encode a corpus's word dict through a PERSISTED WordPiece
    * artifact — the identical encode core as
    * [[CorpusPrep.wordPieceEncodeWords]], no training stage in this
    * lineage. Words the trained inventory cannot tile land on the
    * whole-word `[UNK]` path (BERT semantics) — under a DIFFERENT
    * encode corpus that path carries real traffic. */
  def wordPieceEncode(docs: DataFrame, dir: String): DataFrame =
    wordPieceEncodeAgainst(docs,
      docs.sparkSession.read.parquet(s"$dir/wordpiece_vocab"))

  private def wordPieceEncodeAgainst(docs: DataFrame, vocab: DataFrame)
      : DataFrame =
    CorpusPrep.wordPieceEncodeWith(
      CorpusPrep.wordPieceDict(docs).select(col("word"), col("wc")), vocab)

  /** Train and persist the unigram-LM model (piece, freq, cost).
    * Costs are snapped to integer nano-nats at TRAIN time — the
    * artifact carries them, so encode-side float parity is moot by
    * construction (readers never re-run `ln`). */
  def unigramWrite(docs: DataFrame, dir: String): Unit =
    writeBounded(CorpusPrep.unigramVocabCosts(docs),
      CorpusPrep.UnigramVocabCap.toLong + UnigramAlphabetBound,
      s"$dir/unigram_model")

  /** Per-document encode stats through a PERSISTED unigram model:
    * load, UNK-COVER (SentencePiece's unk piece as model
    * augmentation — every encode-dict char absent from the trained
    * single-char set joins at [[CorpusPrep.UnigramUnkCharCost]], so a
    * corpus the model never saw still segments at every position;
    * inert when the corpora share a character set), Viterbi-segment
    * the corpus word dict under the covered costs, aggregate per
    * document — the identical core as
    * [[CorpusPrep.unigramEncodeStats]] minus the training stage. */
  def unigramEncodeStats(docs: DataFrame, dir: String): DataFrame =
    unigramEncodeStatsWith(docs,
      docs.sparkSession.read.parquet(s"$dir/unigram_model"))

  /** Encode stats through an already-loaded model frame: derive the
    * docs' own word dict, unk-cover the model against it,
    * Viterbi-segment, aggregate per document. A word's optimum is a
    * function of (word, covered model) alone, never of which other
    * words share the dict. */
  private def unigramEncodeStatsWith(docs: DataFrame, model: DataFrame)
      : DataFrame = {
    val dict = CorpusPrep.bpeWordDict(docs).select(col("word"), col("wc"))
    CorpusPrep.unigramEncodeStatsFrom(docs,
      CorpusPrep.viterbiDp(dict, coverModel(dict, model))
        .select(col("word"), col("n_pieces"), col("total_cost")))
  }

  /** Train (deep loop over byte symbols) and persist the BYTE-LEVEL
    * BPE artifacts (`bytebpe_merges`, `bytebpe_vocab`) through the
    * same writer as [[bpeWrite]]. Input is the caller's (already
    * decorated) corpus — byte-BPE has no eligibility filter, every
    * pre-token trains. */
  def byteBpeWrite(docs: DataFrame, dir: String,
      rounds: Int = ByteBpe.ByteBpeRounds): Unit = {
    val (merges, dictRows, words) = ByteBpe.trainDeep(docs, rounds)
    writeMergeArtifact(docs.sparkSession, s"$dir/bytebpe", rounds, merges,
      dictRows, words)
  }

  /** Load the persisted byte-BPE state as the encode-side
    * `(word, word_ids)` dictionary, DISTRIBUTED: the merge table
    * (≤ rounds rows) collects into a foldable minted-symbol→id map
    * literal and the vocabulary's symbol arrays resolve through it in
    * one narrow projection — the dict never round-trips the driver
    * (it is corpus-vocabulary-sized, not cap-16-sized). Ids follow
    * [[ByteBpe.symbolIds]]' rule: byte value for 2-hex-char bases,
    * [[ByteBpe.mintedIds]] for minted symbols. */
  private def byteBpeLoadDict(spark: SparkSession, dir: String)
      : DataFrame = {
    val minted = ByteBpe.mintedIds(
      spark.read.parquet(s"$dir/bytebpe_merges").collect()
        .map(r => (r.getAs[Int]("round"), r.getAs[String]("p"),
          r.getAs[String]("q"))).toSeq)
    CorpusCache.checkpoint(spark.read.parquet(s"$dir/bytebpe_vocab")
      .select(col("word"), transform(col("syms"), s =>
        when(length(s) === 2, conv(s, 16, 10).cast("long"))
          .otherwise(element_at(typedlit(minted), s))).as("word_ids")))
  }

  /** Per-document byte-BPE encode through a PERSISTED artifact —
    * the identical encode core as [[ByteBpe.byteEncodeIds]], no
    * training stage in the lineage; dict misses (cross-corpus) take
    * the structural raw-byte fallback. */
  def byteBpeEncodeIds(docs: DataFrame, dir: String): DataFrame =
    ByteBpe.byteEncodeIdsFromDict(docs,
      byteBpeLoadDict(docs.sparkSession, dir))

  /** The unk augmentation: unseen encode-dict single chars at the
    * fixed cost. Only UNSEEN chars are added, so an unk entry is its
    * position's only candidate whenever it fires — it can never
    * outbid a trained piece. */
  private def coverModel(dict: DataFrame, model: DataFrame): DataFrame = {
    val unseen = dict
      .select(explode(split(col("word"), "")).as("piece"))
      .filter(length(col("piece")) === 1).distinct()
      .join(model.filter(length(col("piece")) === 1).select("piece"),
        Seq("piece"), "left_anti")
      .select(col("piece"), lit(0L).as("freq"),
        lit(CorpusPrep.UnigramUnkCharCost).as("cost"))
    model.select(col("piece"), col("freq"), col("cost")).unionByName(unseen)
  }

  // ---------------------------------------------- streaming encode legs

  /** One tokenizer family's streaming encode leg (run by
    * [[graft.streaming.StreamingQueries.artifactEncodeStream]]): only
    * what is the family's own.
    *
    * @param gate        gate name, also the stream's scratch directory
    * @param write       train on the corpus, persist the artifact
    *                    under the given directory
    * @param open        load the artifact ONCE at stream start and
    *                    return the per-batch encode
    * @param landedDdl   the schema one batch's encode lands with
    * @param reaggregate folds the landed batches back to the gate's
    *                    shape (identity unless a batch's rows are
    *                    partial counts)
    */
  final case class EncodeLeg(gate: String,
      write: (DataFrame, String) => Unit,
      open: (SparkSession, String) => DataFrame => DataFrame,
      landedDdl: String,
      reaggregate: DataFrame => DataFrame = identity)

  private val BpeDigestDdl =
    "doc_id BIGINT, n_tokens BIGINT, n_unk BIGINT, n_ids BIGINT, ids_md5 STRING"
  private val UnigramStatsDdl =
    "doc_id BIGINT, n_words BIGINT, n_pieces BIGINT, cost_x1e9 BIGINT"

  /** Loaded artifact tables are vocabulary-bounded: pin them once
    * (tracked for run-boundary release via [[CorpusCache.releaseAll]])
    * so every micro-batch encodes against the same frame. */
  private def loadPinned(spark: SparkSession, path: String): DataFrame =
    CorpusCache.checkpoint(spark.read.parquet(path))

  /** Char-BPE: per-doc id digests against the loaded vocab; the batch
    * twin is `bpe_encode_ids`. */
  val bpeEncodeLeg: EncodeLeg = EncodeLeg("stream_encode_ids",
    bpeWrite(_, _),
    (spark, dir) => {
      val vocab = loadPinned(spark, s"$dir/bpe_vocab")
      batch => CorpusPrep.idsDigest(
        CorpusPrep.bpeEncodeIdsFrom(batch, vocab, CorpusPrep.BpeVocabCap))
    },
    BpeDigestDdl)

  /** BPE-dropout: the dropout dict is a pure function of (artifact,
    * seed), derived once at open, so every batch and every replay
    * encodes against the identical dict; the batch twin is
    * `bpe_encode_dropout`. */
  val bpeDropoutLeg: EncodeLeg = EncodeLeg("stream_bpe_encode_dropout",
    bpeWrite(_, _),
    (spark, dir) => {
      val dict = bpeDropoutDictFrom(spark, dir)
      batch => CorpusPrep.idsDigest(
        CorpusPrep.bpeEncodeIdsFrom(batch, dict, CorpusPrep.BpeVocabCap))
    },
    BpeDigestDdl)

  /** Byte-BPE: batches are decorated like the gate's corpus (the
    * decoration is per doc_id, so it commutes with batch slicing);
    * the batch twin is `bpe_byte_encode_ids`. */
  val byteBpeLeg: EncodeLeg = EncodeLeg("stream_bpe_byte_encode",
    (docs, dir) => byteBpeWrite(CorpusPrep.bertFixtureText(docs), dir),
    (spark, dir) => {
      val dict = byteBpeLoadDict(spark, dir)
      batch => CorpusPrep.idsDigest(ByteBpe.byteEncodeIdsFromDict(
        CorpusPrep.bertFixtureText(batch), dict))
    },
    "doc_id BIGINT, n_tokens BIGINT, n_fallback BIGINT, n_ids BIGINT, " +
      "ids_md5 STRING")

  /** WordPiece: each batch greedy-encodes its OWN word dict, so a
    * batch lands partial `wc` counts; read-back sums them per word
    * (the encode columns are per-word pure and group exactly). The
    * batch twin is `wordpiece_encode`. */
  val wordPieceLeg: EncodeLeg = EncodeLeg("stream_wordpiece_encode",
    wordPieceWrite(_, _),
    (spark, dir) => {
      val vocab = loadPinned(spark, s"$dir/wordpiece_vocab")
      batch => wordPieceEncodeAgainst(batch, vocab)
    },
    "word STRING, wc BIGINT, n_pieces BIGINT, pieces STRING, is_unk INT",
    _.groupBy(col("word"), col("n_pieces"), col("pieces"), col("is_unk"))
      .agg(sum(col("wc")).as("wc"))
      .select(col("word"), col("wc"), col("n_pieces"), col("pieces"),
        col("is_unk")))

  /** Unigram: per-doc Viterbi stats under the loaded model (integer
    * nano-nat costs, snapped at train time, make the union bit-equal);
    * the batch twin is `unigram_encode_stats`. */
  val unigramLeg: EncodeLeg = EncodeLeg("stream_unigram_encode",
    unigramWrite(_, _),
    (spark, dir) => {
      val model = loadPinned(spark, s"$dir/unigram_model")
      batch => unigramEncodeStatsWith(batch, model)
    },
    UnigramStatsDdl)

  /** Sampled unigram (subword regularization): each (doc, word) takes
    * the k-best candidate its (seed, epoch, doc_id, word) hash picks —
    * stable identifiers only, so a replayed batch re-samples
    * identically. The epoch is the gate's fixed
    * [[CorpusPrep.SubwordDocEpoch]]: a restart with another epoch
    * against the same checkpoint would mix epochs. The batch twin is
    * [[CorpusPrep.unigramSampledDocStats]]. */
  val unigramSampledLeg: EncodeLeg = EncodeLeg(
    "stream_unigram_encode_sampled",
    unigramWrite(_, _),
    (spark, dir) => {
      val model = loadPinned(spark, s"$dir/unigram_model")
      batch => {
        val dict = CorpusPrep.bpeWordDict(batch)
          .select(col("word"), col("wc"))
        CorpusPrep.unigramSampledDocStatsWith(batch,
          CorpusPrep.sampledSpans(dict, coverModel(dict, model)),
          CorpusPrep.SubwordDocEpoch)
      }
    },
    UnigramStatsDdl)

  val encodeLegs: Seq[EncodeLeg] = Seq(bpeEncodeLeg, bpeDropoutLeg,
    byteBpeLeg, wordPieceLeg, unigramLeg, unigramSampledLeg)

  /** Train/encode split predicate for the cross-corpus gate: train on
    * even doc ids, encode the odd half. The halves share the fixture
    * vocabulary's character set but NOT its word set, so the
    * OOV→unk path carries real traffic (words the trained vocab
    * never saw). */
  private val TrainHalf = "doc_id % 2 = 0"
  private val EncodeHalf = "doc_id % 2 = 1"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // train-on-A / encode-on-B — the shape the artifact EXISTS for
    // (the roundtrip gates prove artifact ≡ in-lineage on one corpus;
    // this one proves the artifact decouples from its training
    // corpus: a different doc set encodes through the loaded vocab,
    // unseen words land on unk)
    "bpe_artifact_cross_encode" -> ((s, d) => {
      val dir = RunScratch.dir("bpe_artifact_x", d)
      val docs = Tables.documents(s, d)
      bpeWrite(docs.filter(expr(TrainHalf)), dir)
      CorpusPrep.idsDigest(bpeEncodeIds(docs.filter(expr(EncodeHalf)), dir))
        .orderBy(col("doc_id"))
    }),
    // write → reload in a fresh lineage → encode; hash-matched
    // against bpe_encode_ids' UNCHANGED oracle, so artifact ≡
    // in-lineage is proven end-to-end every round
    "bpe_artifact_roundtrip" -> ((s, d) => {
      val dir = RunScratch.dir("bpe_artifact", d)
      val docs = Tables.documents(s, d)
      bpeWrite(docs, dir)
      CorpusPrep.idsDigest(bpeEncodeIds(docs, dir)).orderBy(col("doc_id"))
    }),
    // byte-level roundtrip: deep-train over byte symbols → persist →
    // reload in a fresh lineage (distributed minted-map id resolve) →
    // encode, hash-matched against bpe_byte_encode_ids' UNCHANGED
    // oracle — artifact ≡ in-lineage for the fourth family too
    "bpe_byte_artifact_roundtrip" -> ((s, d) => {
      val dir = RunScratch.dir("bytebpe_artifact", d)
      val docs = CorpusPrep.bertFixtureText(Tables.documents(s, d))
      byteBpeWrite(docs, dir)
      CorpusPrep.idsDigest(byteBpeEncodeIds(docs, dir))
        .orderBy(col("doc_id"))
    }),
    // byte-level cross-corpus: train on the even decorated half,
    // encode the odd half — odd-half pre-tokens missing from the
    // even-half dict land on the RAW-BYTE fallback, so the structural
    // no-UNK path carries real oracle-checked traffic (n_fallback > 0
    // and every token still encodes)
    "bpe_byte_artifact_cross_encode" -> ((s, d) => {
      val dir = RunScratch.dir("bytebpe_artifact_x", d)
      val docs = CorpusPrep.bertFixtureText(Tables.documents(s, d))
      byteBpeWrite(docs.filter(expr(TrainHalf)), dir)
      CorpusPrep.idsDigest(byteBpeEncodeIds(
        ByteBpe.crossExtraText(docs.filter(expr(EncodeHalf))), dir))
        .orderBy(col("doc_id"))
    }),
    // same proof for the unigram model, against
    // unigram_encode_stats' unchanged oracle
    "unigram_artifact_roundtrip" -> ((s, d) => {
      val dir = RunScratch.dir("unigram_artifact", d)
      val docs = Tables.documents(s, d)
      unigramWrite(docs, dir)
      unigramEncodeStats(docs, dir)
    }),
    // the unigram cross-corpus leg: model trained on the even half,
    // encode stats over the odd half under the unk-covered model —
    // chars the training half never saw segment as unk pieces at the
    // fixed cost instead of making the DP infeasible
    "unigram_artifact_cross_encode" -> ((s, d) => {
      val dir = RunScratch.dir("unigram_artifact_x", d)
      val docs = Tables.documents(s, d)
      unigramWrite(docs.filter(expr(TrainHalf)), dir)
      unigramEncodeStats(docs.filter(expr(EncodeHalf)), dir)
    }),
    // WordPiece roundtrip: deep-train → persist → reload in a fresh
    // lineage → greedy-encode, hash-matched against wordpiece_encode's
    // UNCHANGED oracle (artifact ≡ in-lineage ≡ deep ≡ distributed,
    // all through one hash)
    "wordpiece_artifact_roundtrip" -> ((s, d) => {
      val dir = RunScratch.dir("wordpiece_artifact", d)
      val docs = Tables.documents(s, d)
      wordPieceWrite(docs, dir)
      wordPieceEncode(docs, dir)
    }),
    // train-on-A / encode-on-B under the production vocab_size cap:
    // odd-half words needing a truncated piece (the fixture halves
    // share their alphabet, so the CAP is what strands — rare `##`
    // continuations fall outside the top-cap, see
    // CorpusPrep.WordPieceVocabCap for the sized-to-bind numbers)
    // land on the whole-word [UNK] path — the only gate where that
    // path carries real (non-crafted) traffic under the oracle
    // (VERDICT r11 #3)
    "wordpiece_artifact_cross_encode" -> ((s, d) => {
      val dir = RunScratch.dir("wordpiece_artifact_x", d)
      val docs = Tables.documents(s, d)
      wordPieceWrite(docs.filter(expr(TrainHalf)), dir,
        vocabCap = CorpusPrep.WordPieceVocabCap)
      wordPieceEncode(docs.filter(expr(EncodeHalf)), dir)
    }),
    // the same cross split folded to ONE row of occurrence-weighted
    // unk shares — the rate column the oracle re-derives end-to-end
    "wordpiece_unk_rate" -> ((s, d) => {
      val dir = RunScratch.dir("wordpiece_unk_rate", d)
      val docs = Tables.documents(s, d)
      wordPieceWrite(docs.filter(expr(TrainHalf)), dir,
        vocabCap = CorpusPrep.WordPieceVocabCap)
      wordPieceEncode(docs.filter(expr(EncodeHalf)), dir)
        .agg(count(lit(1)).as("n_words"),
          sum(col("wc")).as("n_wc"),
          sum(col("is_unk").cast("long")).as("unk_words"),
          sum(when(col("is_unk") === 1, col("wc")).otherwise(0L))
            .as("unk_wc"))
        .withColumn("unk_wc_x10k", expr("unk_wc * 10000 div n_wc"))
    }))

  /** Both roundtrip gates share the in-lineage gates' oracles
    * VERBATIM — the whole point: the artifact path must be
    * indistinguishable from the fused path. */
  val oracles: Map[String, String] = Map(
    "bpe_artifact_roundtrip" -> CorpusPrep.oracles("bpe_encode_ids"),
    "bpe_byte_artifact_roundtrip" -> ByteBpe.oracles("bpe_byte_encode_ids"),
    // byte merge chain + dict from the even decorated half ONLY;
    // pre-token stream + digest spine from the odd half — dict-miss
    // tokens take the inline raw-byte-id fallback in both engines
    "bpe_byte_artifact_cross_encode" -> ByteBpe.byteEncodeOracleSql(
      ByteBpe.ByteBpeRounds,
      trainWhere = s" WHERE $TrainHalf", encodeWhere = s" WHERE $EncodeHalf",
      encodeExtraSql = ByteBpe.CrossExtraSql),
    "unigram_artifact_roundtrip" -> CorpusPrep.oracles("unigram_encode_stats"),
    // merge chain + capped vocab from the train half ONLY; encode
    // stream + digest spine from the other half
    "bpe_artifact_cross_encode" -> CorpusPrep.bpeCrossEncodeOracleSql(
      CorpusPrep.BpeMergeRoundsN,
      trainWhere = s" WHERE $TrainHalf", encodeWhere = s" WHERE $EncodeHalf"),
    // encode-stats statement over the odd half, v = the even-half aux
    // model UNION the unseen-char unk entries (the coverModel twin)
    "unigram_artifact_cross_encode" ->
      CorpusPrep.unigramEncodeStatsOracleSqlFor("unigram_vocab_x",
        docWhere = s" WHERE $EncodeHalf", unkCover = true),
    "wordpiece_artifact_roundtrip" -> CorpusPrep.oracles("wordpiece_encode"),
    // train chain from the even half ONLY; encode spine (edict) from
    // the odd half — pieces the train half never minted leave odd-half
    // words on the [UNK] path in both engines
    "wordpiece_artifact_cross_encode" ->
      CorpusPrep.wordPieceEncodeOracleSql(CorpusPrep.WordPieceRoundsN,
        trainWhere = s" WHERE $TrainHalf",
        encodeWhere = s" WHERE $EncodeHalf",
        vocabCap = Some(CorpusPrep.WordPieceVocabCap)),
    "wordpiece_unk_rate" ->
      CorpusPrep.wordPieceUnkStatsOracleSql(CorpusPrep.WordPieceRoundsN,
        trainWhere = s" WHERE $TrainHalf",
        encodeWhere = s" WHERE $EncodeHalf",
        vocabCap = Some(CorpusPrep.WordPieceVocabCap)))
}
