package graft.ext

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Byte-level BPE — the GPT-2-class tokenizer family (VERDICT r13
  * #2): a regex pre-tokenizer (spaces attach to the FOLLOWING token,
  * the Ġ convention) over a 256-symbol byte alphabet, so every
  * string encodes and there is NO unknown token by construction —
  * the property the dominant production tokenizers (GPT-2/3, LLaMA
  * byte-fallback, tiktoken) are built on.
  *
  * Reference scope: the reference repo has no tokenizer surface at
  * all (its core is a Kafka generator + one Spark rollup,
  * `doc/Cumulative.java`); this is north-star LLM-pipeline surface,
  * completing the char-level BPE/WordPiece/unigram matrix
  * ([[CorpusPrep]]) with the byte-level family.
  *
  * Design, Spark-first:
  *   - Pre-tokenization is a scan-local `regexp_extract_all` — the
  *     GPT-2 pattern reshaped to have NO lookahead so Java regex
  *     (engine) and RE2 (DuckDB oracle) match identically:
  *     `" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"`. Deviations from
  *     GPT-2 proper, deliberate and documented: no contraction
  *     alternatives (`'s|'t|…` — fixture carries none), and
  *     whitespace RUNS are dropped rather than kept as tokens (the
  *     lookahead-dependent legs). Zero shuffle at any corpus size.
  *   - Symbols are UPPERCASE-HEX BYTE PAIRS of the token's UTF-8
  *     bytes ("C3A9" = é), so merge = string concat and both engines
  *     derive identical symbol streams from multi-byte input with
  *     plain string ops (`hex(encode(word))` both sides).
  *   - Training reuses the deep-trainer discipline
  *     ([[CorpusPrep.deepMergeLoop]], the merge families' shared
  *     loop, under a hex-byte count-scored rule): ONE
  *     distributed map-side-combined pre-token count, a ≤ dictCap
  *     collect (loud warning at the cap), then the incremental
  *     delta-count lazy-PQ merge loop at memory speed — the
  *     vocabulary-bounded-state judgment call every production
  *     trainer makes.
  *   - Ids are a pure function of the trained state: a base byte
  *     symbol's id IS its byte value (0–255), a symbol minted at
  *     merge round r gets 255 + r (first-minting round if a string
  *     is ever minted twice) — GPT-2's id layout, shared by engine
  *     and oracle without exchanging anything but the corpus.
  *   - Encode is corpus-sized work only: pre-token explode → keyed
  *     join against the (word → id array) dict — tokens co-shuffle
  *     with their words, the standard corpus-tokenization join — and
  *     a per-doc struct-sort reassembly on doc_id. A pre-token
  *     MISSING from the dict (cross-corpus encode; impossible
  *     same-corpus) falls back to its raw byte ids inline — the
  *     no-UNK guarantee is structural, not a vocab-coverage bet.
  *
  * Input is the decorated fixture [[CorpusPrep.bertFixtureText]]
  * (accents, CJK, punctuation, case) so multi-byte UTF-8 carries
  * real oracle-checked traffic — the fixture corpus itself is plain
  * `[a-z0-9 ]`.
  *
  * 100 TB shape: pre-tokenize + dict count is one shuffle with
  * map-side combine (vocabulary-bounded output); training is
  * dict-bounded driver state; encode is one keyed join + one
  * groupBy, both on corpus-natural keys. Nothing rescans, nothing is
  * quadratic, the dict broadcast is avoided by contract (the dict is
  * corpus-vocabulary-sized, NOT cap-16-sized like the char gate's).
  */
object ByteBpe {

  /** Merge depth of the GATE (the deep loop handles production depth
    * the same way — see [[CorpusPrep.deepMergeLoop]]; 6 rounds mint
    * multi-byte merges over the decorated fixture while keeping the
    * oracle's unrolled chain tractable). */
  val ByteBpeRounds = 6

  /** Lookahead-free GPT-2-style pre-tokenizer (see object doc). */
  val PreTokPattern = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"

  /** Pre-token stream of `text` — scan-local, no shuffle. */
  def preTokens(text: Column): Column =
    regexp_extract_all(text, lit(PreTokPattern), lit(0))

  /** word → initial hex-byte-pair symbols ("é" → ["C3","A9"]). */
  def hexSyms(word: String): Array[String] =
    word.getBytes(StandardCharsets.UTF_8).map(b => f"${b & 0xff}%02X")

  /** Pre-token dictionary (word, wc) — the one corpus-sized training
    * stage: map-side-combined count, vocabulary-bounded output. */
  def byteDict(docs: DataFrame): DataFrame =
    docs.select(explode(preTokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))

  /** Capped dict collect with the loud-cap contract
    * ([[CorpusPrep.dictCollect]]). */
  def byteDictCollect(docs: DataFrame,
      dictCap: Int = CorpusPrep.BpeDictCap): Array[(String, Long)] =
    CorpusPrep.dictCollect(byteDict(docs), dictCap, "byteDictCollect")

  /** The count-scored merge rule over hex-byte symbols. */
  private val ByteRule =
    CorpusPrep.MergeRule(hexSyms, _ + _, likelihoodRatio = false)

  /** Deep-trained byte-BPE state: (merge table, dict rows, per-word
    * merged symbol sequences). */
  def trainDeep(docs: DataFrame, rounds: Int = ByteBpeRounds,
      dictCap: Int = CorpusPrep.BpeDictCap)
      : (Seq[(Int, String, String, Long)], Array[(String, Long)],
         Array[Array[String]]) = {
    val dictRows = byteDictCollect(docs, dictCap)
    val (merges, words) = CorpusPrep.deepMergeLoop(dictRows, rounds, ByteRule)
    (CorpusPrep.countMerges(merges), dictRows, words)
  }

  /** Symbol → id over a trained merge table: byte value for base
    * symbols, [[mintedIds]] for minted symbols. */
  def symbolIds(merges: Seq[(Int, String, String, Long)])
      : String => Long = {
    val minted = mintedIds(merges.map(m => (m._1, m._2, m._3)))
    s => if (s.length == 2) java.lang.Integer.parseInt(s, 16).toLong
         else minted(s)
  }

  /** Minted symbol → id over (round, p, q) merges: 255 + the round that
    * first minted `p‖q` (a string minted twice keeps its first). */
  private[ext] def mintedIds(merges: Seq[(Int, String, String)])
      : Map[String, Long] =
    merges.groupBy(m => m._2 + m._3)
      .map { case (s, ms) => s -> (255L + ms.map(_._1).min) }

  /** Raw byte ids of a token — the structural no-UNK fallback for
    * pre-tokens outside the trained dict (cross-corpus encode). */
  def byteFallbackIds(word: Column): Column =
    transform(regexp_extract_all(hex(encode(word, "UTF-8")),
        lit(".."), lit(0)),
      h => conv(h, 16, 10).cast("long"))

  /** Per-document byte-BPE id sequences over the decorated fixture —
    * train (deep) → encode composed. Returns (doc_id, ids, n_tokens,
    * n_fallback); `n_fallback` counts dict-miss tokens (0 by
    * construction when encoding the training corpus — the gate
    * hash-checks that; nonzero only cross-corpus, where the byte
    * fallback keeps every token encoded). */
  def byteEncodeIds(docsRaw: DataFrame,
      rounds: Int = ByteBpeRounds): DataFrame = {
    val docs = CorpusPrep.bertFixtureText(docsRaw)
    byteEncodeIdsWith(docs, docs, rounds)
  }

  /** Encode `docs` through byte-BPE state trained on `trainDocs`
    * (both already decorated/raw as the caller wants them) — the
    * cross-corpus seam: dict misses take the byte fallback, so the
    * no-UNK guarantee holds for input the trainer never saw. */
  def byteEncodeIdsWith(docs: DataFrame, trainDocs: DataFrame,
      rounds: Int = ByteBpeRounds): DataFrame = {
    val (merges, dictRows, words) = trainDeep(trainDocs, rounds)
    val id = symbolIds(merges)
    // the byte dict is corpus-VOCABULARY-sized (every distinct
    // pre-token, unlike the char gate's cap-16 vocab): a distributed
    // frame, never a plan-embedded LocalRelation
    byteEncodeIdsFromDict(docs, TokenizerArtifact.dictFrame(
      docs.sparkSession, "word STRING, word_ids ARRAY<BIGINT>",
      dictRows.zip(words).toIndexedSeq.map { case ((w, _), syms) =>
        org.apache.spark.sql.Row(w, syms.toIndexedSeq.map(id)) }))
  }

  /** The encode core over any `(word, word_ids)` trained dictionary —
    * the artifact/streaming seam ([[graft.ext.TokenizerArtifact]]
    * feeds a dict loaded from a persisted byte-BPE model). */
  private[ext] def byteEncodeIdsFromDict(docs: DataFrame,
      dictDf: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode_outer(preTokens(col("text"))).as(Seq("wpos", "word")))
    toks.join(dictDf, Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(
        flatten(transform(
          sort_array(collect_list(struct(col("wpos"),
            when(col("word").isNull, array().cast("array<bigint>"))
              .otherwise(coalesce(col("word_ids"),
                byteFallbackIds(col("word")))).as("wids")))),
          p => p.getField("wids"))).as("ids"),
        count(col("word")).as("n_tokens"),
        count(when(col("word").isNotNull && col("word_ids").isNull, 1))
          .as("n_fallback"))
      .select(col("doc_id"), col("ids"), col("n_tokens"), col("n_fallback"))
  }

  // ------------------------------------------------------- gates

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // id arrays cross the gate as CorpusPrep.idsDigest; n_fallback
    // == 0 on the training corpus is part of the hash-checked contract
    "bpe_byte_encode_ids" -> ((s, d) =>
      CorpusPrep.idsDigest(byteEncodeIds(Tables.documents(s, d)))
        .orderBy(col("doc_id"))))

  // ------------------------------------------------------ oracle

  /** DuckDB hex-pair → byte value (strpos is 1-based). */
  private def hexValSql(sym: String): String =
    s"CAST((strpos('0123456789ABCDEF', $sym[1:1]) - 1) * 16 + " +
      s"strpos('0123456789ABCDEF', $sym[2:2]) - 1 AS BIGINT)"

  /** Per-doc UNIQUE letters-only token appended to the CROSS gate's
    * encode half (" q" + digits of doc_id mapped a–j): the train half
    * can never contain it, so the raw-byte fallback carries real,
    * oracle-checked traffic instead of being a dead path (the r11
    * WordPiece-unk lesson). Letters-only matters: a digit suffix
    * would split into its own pre-token under [[PreTokPattern]]. */
  def crossExtraText(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"), lit(" q"),
      translate(col("doc_id").cast("string"),
        "0123456789", "abcdefghij")))

  /** The SQL twin of [[crossExtraText]]'s appended token. */
  private[ext] val CrossExtraSql: String =
    "' q' || translate(CAST(doc_id AS VARCHAR), '0123456789', 'abcdefghij')"

  /** The full independent re-derivation: decorated input
    * ([[CorpusPrep.bertDocsCte]] — the urlCanon synthesis
    * discipline), RE2 pre-tokenization, hex-byte decomposition, the
    * unrolled merge chain (shared round CTEs,
    * [[CorpusPrep.bpeRoundCteSql]] — full per-round recounts, the
    * independent formulation of the engine's delta-maintained loop),
    * GPT-2 id layout, per-doc reassembly, digest. */
  private[ext] def byteEncodeOracleSql(rounds: Int,
      trainWhere: String = "", encodeWhere: String = "",
      encodeExtraSql: String = "''"): String = {
    val init =
      s"""pret AS MATERIALIZED (SELECT doc_id,
         |                regexp_extract_all(text, '$PreTokPattern') AS ws
         |         FROM bdocs),
         |bdict AS (SELECT word, CAST(count(*) AS BIGINT) AS wc
         |          FROM (SELECT unnest(ws) AS word FROM pret$trainWhere)
         |          GROUP BY 1),
         |pr2 AS (SELECT doc_id,
         |               regexp_extract_all(text || $encodeExtraSql,
         |                 '$PreTokPattern') AS ws
         |        FROM bdocs$encodeWhere),
         |d0 AS (SELECT word, wc,
         |              regexp_extract_all(hex(encode(word)), '..') AS syms
         |       FROM bdict)""".stripMargin
    val roundCtes = (1 to rounds)
      .map(CorpusPrep.bpeRoundCteSql(_, mat = true))
    val mintUnion = (1 to rounds)
      .map(r => s"SELECT p || q AS sym, $r AS r FROM t$r")
      .mkString("\n               UNION ALL ")
    val tail =
      s"""mint AS (SELECT sym, CAST(255 + min(r) AS BIGINT) AS id
         |         FROM ($mintUnion)
         |         GROUP BY 1),
         |wi AS (SELECT word,
         |              list(CASE WHEN len(sym) = 2 THEN ${hexValSql("sym")}
         |                        ELSE m.id END ORDER BY i) AS word_ids
         |       FROM (SELECT word, CAST(t.i AS BIGINT) AS i,
         |                    syms[CAST(t.i AS INTEGER)] AS sym
         |             FROM d$rounds, unnest(range(1, len(syms) + 1)) t(i)) sq
         |       LEFT JOIN mint m USING (sym)
         |       GROUP BY word),
         |tok AS (SELECT d.doc_id, CAST(t.i AS BIGINT) AS wpos,
         |               d.ws[CAST(t.i AS INTEGER)] AS word
         |        FROM pr2 d, unnest(range(1, len(d.ws) + 1)) t(i)),
         |enc AS (SELECT tok.doc_id, tok.wpos,
         |               coalesce(wi.word_ids,
         |                 [${hexValSql("h")} FOR h IN
         |                  regexp_extract_all(hex(encode(tok.word)), '..')])
         |                 AS wids,
         |               CASE WHEN wi.word IS NULL THEN 1 ELSE 0 END AS fb
         |        FROM tok LEFT JOIN wi ON wi.word = tok.word),
         |eagg AS (SELECT doc_id, flatten(list(wids ORDER BY wpos)) AS ids,
         |                count(*) AS n_tokens,
         |                CAST(sum(fb) AS BIGINT) AS n_fallback
         |         FROM enc GROUP BY 1)""".stripMargin
    s"""WITH ${CorpusPrep.bertDocsCte},
       |$init,
       |${roundCtes.mkString(",\n")},
       |$tail
       |SELECT d.doc_id,
       |       CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       |       CAST(coalesce(a.n_fallback, 0) AS BIGINT) AS n_fallback,
       |       CAST(coalesce(len(a.ids), 0) AS BIGINT) AS n_ids,
       |       md5(coalesce(array_to_string(
       |         [CAST(x AS VARCHAR) FOR x IN a.ids], ' '), '')) AS ids_md5
       |FROM (SELECT doc_id FROM documents$encodeWhere) d
       |LEFT JOIN eagg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "bpe_byte_encode_ids" -> byteEncodeOracleSql(ByteBpeRounds))
}
