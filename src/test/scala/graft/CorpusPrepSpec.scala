package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{CorpusPrep, Embeddings}

/** Semantics of the corpus-preparation operators (decontamination,
  * repetition metrics, chunking) and int8 embedding quantization on
  * hand-built fixtures where the expected answers are computable by
  * eye — the gate then hash-checks the same code paths against DuckDB
  * on the fixture corpus.
  */
class CorpusPrepSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.local("graft-corpusprep-test")

  private def docsOf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("wordGrams: empty below n, exact sliding windows at n") {
    val df = docsOf(1L -> "a b c d", 2L -> "a b c d e f")
      .select(col("doc_id"), CorpusPrep.wordGrams(col("text"), 5).as("g"))
      .orderBy("doc_id")
    val rows = df.collect()
    assert(rows(0).getSeq[String](1) === Seq.empty)
    assert(rows(1).getSeq[String](1) === Seq("a b c d e", "b c d e f"))
  }

  test("word_gram_strings is bit-identical to the composable HOF gram form") {
    // the r15 native gram builder must equal the form it replaced —
    // when(size(w) >= n, transform(sequence(0, size(w)-n),
    //   i => array_join(slice(w, i+1, n), " "))).otherwise(array()) —
    // on fixture docs AND the short/empty/multibyte edges
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text"))
      .unionByName(docsOf(1L -> "", 2L -> "one", 3L -> "a b",
        4L -> "  spaced   out  tokens  ", 5L -> "汉字 词 语 例 子 多 字")
        .select(col("text")))
    for (n <- Seq(1, 2, 5)) {
      val w = graft.ext.TextAnalysis.tokens(col("text"))
      val hof = when(size(w) >= n,
        transform(sequence(lit(0), size(w) - lit(n)),
          i => array_join(slice(w, i + lit(1), lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
      val diff = docs.select(
        graft.functions.WordGramStrings.word_gram_strings(w, n).as("native"),
        hof.as("ref"))
        .filter(not(col("native") <=> col("ref"))).count()
      assert(diff === 0L, s"n=$n")
    }
  }

  test("decontaminate flags exactly the docs sharing a 5-gram with the eval set") {
    // doc 0 (0 % 97 == 0) is the benchmark; doc 1 embeds one of its
    // 5-grams verbatim; doc 2 shares words but no 5-long window.
    val docs = docsOf(
      0L -> "alpha beta gamma delta epsilon zeta",
      1L -> "noise noise beta gamma delta epsilon zeta tail",
      2L -> "alpha beta gamma noise delta epsilon")
    // doc 0 grams: {"alpha beta gamma delta epsilon",
    //               "beta gamma delta epsilon zeta"};
    // doc 1's four windows include the second one exactly once;
    // doc 2's two windows match neither.
    val out = CorpusPrep.decontaminate(docs).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 1L)))
  }

  test("repetition: bigram duplicate and top fractions are exact") {
    // "a b a b a": bigrams (a b, b a, a b, b a) -> n=4, distinct=2,
    // dup = (1 - 2/4) = .5 -> 5000; top = 2/4 -> 5000.
    val out = CorpusPrep.repetitionStats(docsOf(7L -> "a b a b a")).collect()
    assert(out.length === 1)
    val r = out(0)
    assert(r.getLong(1) === 4L)   // n_bigrams
    assert(r.getLong(2) === 2L)   // distinct_bigrams
    assert(r.getLong(3) === 5000L)
    assert(r.getLong(4) === 5000L)
  }

  test("chunk: stride-16 windows cover the doc; first chunk md5 = md5 of first 32 words") {
    val words = (1 to 50).map(i => s"w$i")
    val out = CorpusPrep.chunk(docsOf(3L -> words.mkString(" "))).collect()
    // starts at 0,16,32,48 -> 4 chunks; token counts 32,32,18,2
    assert(out.map(_.getInt(1)).toSeq === Seq(0, 1, 2, 3))
    assert(out.map(_.getLong(2)).toSeq === Seq(32L, 32L, 18L, 2L))
    val expectMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(words.take(32).mkString(" ").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out(0).getString(3) === expectMd5)
  }

  test("span dedup: shared passage counted once via island merge, clean docs absent") {
    // docs 1 and 2 embed the SAME 10-word passage (p1..p10) in
    // different contexts: with SpanN = 8, each doc has 3 hit grams at
    // consecutive start positions that merge into ONE island covering
    // exactly the 10 passage tokens. doc 3 shares nothing 8 words long.
    val passage = (1 to 10).map(i => s"p$i").mkString(" ")
    val docs = docsOf(
      1L -> s"u1 u2 u3 $passage v1 v2",
      2L -> s"x1 $passage y1 y2 y3",
      3L -> "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12")
    val out = CorpusPrep.spanDupStats(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, 15L, 10L, 6667L),   // floor(10*10000/15 + .5) = 6667
      (2L, 14L, 10L, 7143L)))  // floor(10*10000/14 + .5) = 7143
  }

  test("span dedup: two disjoint shared spans stay separate islands") {
    // doc 1 shares span A with doc 2 and span B with doc 3; A and B
    // sit far apart in doc 1 → two islands, coverage = 8 + 8
    val a = (1 to 8).map(i => s"a$i").mkString(" ")
    val b = (1 to 8).map(i => s"b$i").mkString(" ")
    val docs = docsOf(
      1L -> s"$a f1 f2 f3 f4 $b",
      2L -> s"n1 n2 $a",
      3L -> s"$b m1 m2")
    val out = CorpusPrep.spanDupStats(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(out(1L) === 16L)
    assert(out(2L) === 8L && out(3L) === 8L)
  }

  test("span removal: shared passage excised from ALL holders, context kept, clean docs absent") {
    val passage = (1 to 10).map(i => s"p$i").mkString(" ")
    val docs = docsOf(
      1L -> s"u1 u2 u3 $passage v1 v2",
      2L -> s"x1 $passage y1 y2 y3",
      3L -> "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12")
    val out = CorpusPrep.removeDupSpans(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out.toSeq === Seq(
      (1L, 15L, 5L, md5("u1 u2 u3 v1 v2")),
      (2L, 14L, 4L, md5("x1 y1 y2 y3"))))
  }

  test("span removal: fully-duplicated doc keeps zero tokens, md5 of empty string") {
    val a = (1 to 8).map(i => s"a$i").mkString(" ")
    val docs = docsOf(1L -> a, 2L -> s"c1 $a c2")
    val out = CorpusPrep.removeDupSpans(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L) === ((0L, md5(""))))
    assert(out(2L) === ((2L, md5("c1 c2"))))
  }

  test("int8 quantization: known codes, constant-vector guard, dim preservation") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(0f, 1f, 2f)),        // codes 0, 127, 255
      (2L, Seq(3f, 3f, 3f, 3f))     // mx == mn -> all zero
    ).toDF("vec_id", "embedding")
    val out = Embeddings.quantizeInt8(emb).collect()
    assert(out(0).getInt(1) === 3)
    assert(out(0).getLong(2) === 382L) // 0 + 127 + 255
    assert(out(0).getLong(3) === 0L && out(0).getLong(4) === 255L)
    assert(out(1).getInt(1) === 4)
    assert(out(1).getLong(2) === 0L && out(1).getLong(4) === 0L)
  }

  test("quantization bounds: every code in [0,255] on the fixture embeddings") {
    val q = Embeddings.quantizeInt8(
      graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001"))
    val bad = q.filter(col("code_min") < 0 || col("code_max") > 255).count()
    assert(bad === 0L)
    assert(q.filter(col("code_max") === 255).count() > 0L) // max maps to 255
  }

  test("bpe pair counts: hand fixture gives exact weighted pair frequencies") {
    // vocabulary: "abab" ×3, "ab" ×2, "ba" ×1 →
    //   pair ab: 2 per "abab" ×3 + 1 per "ab" ×2 = 8, from 2 words
    //   pair ba: 1 per "abab" ×3 + 1 per "ba" ×1 = 4, from 2 words
    val docs = docsOf(1L -> "abab ab abab", 2L -> "abab ab ba")
    val got = CorpusPrep.bpePairCounts(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq(("ab", 8L, 2L), ("ba", 4L, 2L)))
  }

  test("bpe pair counts: non-ascii and 1-char words are excluded, pairs are 2 chars") {
    val docs = docsOf(1L -> "的是 a bb ccc")
    val got = CorpusPrep.bpePairCounts(docs).collect()
      .map(r => r.getString(0))
    assert(got.toSeq.sorted === Seq("bb", "cc"))
    assert(got.forall(_.length == 2))
  }

  test("vector stats: norm2 >= max^2 when max>0, n_pos <= n_dims") {
    val vs = Embeddings.vectorStats(
      graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001"))
    assert(vs.filter(col("n_pos") > col("n_dims")).count() === 0)
    // norm2_x1e6 >= (max_x1e6)^2/1e6 (both scaled) for positive max
    assert(vs.filter(col("max_x1e6") > 0 &&
      col("norm2_x1e6") * lit(1000000.0) <
        col("max_x1e6") * col("max_x1e6") - lit(2000000.0)).count() === 0)
  }

  test("BPE merge rounds: known merge sequence, greedy-leftmost overlap semantics") {
    // corpus: "aaab" x2, "ab" x1
    //   round 1 pairs: (a,a) = 2 per "aaab" x wc 2 = 4; (a,b) = 2+1 = 3
    //     -> merge (a,a), cnt 4; "aaab" folds greedily to [aa, a, b]
    //   round 2 pairs: (aa,a) = 2; (a,b) = 2+1 = 3 -> merge (a,b), cnt 3
    //     "aaab" -> [aa, ab]; "ab" -> [ab]
    //   round 3 pairs: (aa,ab) = 2 -> merge, cnt 2
    val docs = docsOf(1L -> "aaab aaab ab")
    val got = CorpusPrep.bpeMergeRounds(docs, rounds = 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq((1, "a", "a", 4L), (2, "a", "b", 3L),
      (3, "aa", "ab", 2L)))
    // run-parity check inside one word: "aaaa" merges (0,1) and (2,3)
    val quad = CorpusPrep.bpeMergeRounds(docsOf(2L -> "aaaa aaaa"), rounds = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // round 1: (a,a) cnt 6 (3 pairs x wc 2); word -> [aa, aa]
    // round 2: (aa,aa) cnt 2
    assert(quad.toSeq === Seq((1, "a", "a", 6L), (2, "aa", "aa", 2L)))
  }

  test("unigram vocab + Viterbi segment: known costs, optimal paths, tie counting") {
    // corpus: "ab" x2, "abab" x1
    //   substring freqs: a=4, b=4, ab=4; aba/abab/ba/bab=1 (< floor 3)
    //   vocab = {a, b, ab} each freq 4, tot 12 -> every cost ln(3)e9
    val docs = docsOf(1L -> "ab ab abab")
    val vocab = CorpusPrep.unigramVocabCosts(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val c = math.round(math.log(3.0) * 1e9)
    assert(vocab === Map("a" -> (4L, c), "b" -> (4L, c), "ab" -> (4L, c)))
    val seg = CorpusPrep.unigramSegment(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(2), r.getInt(3), r.getLong(4))).toMap
    // "ab": [ab] beats [a,b] on cost; "abab": [ab,ab] unique optimum
    assert(seg("ab") === ((c, 1, 1L)))
    assert(seg("abab") === ((2 * c, 2, 1L)))
    // equal-cost tie counting: all-distinct chars, no multi-char piece
    // frequent enough -> only the all-singles path exists
    val noMulti = CorpusPrep.unigramSegment(docsOf(2L -> "xyz qrs"))
      .collect().map(r => (r.getString(0), r.getInt(3), r.getLong(4)))
    noMulti.foreach { case (w, np, nb) =>
      assert(np === w.length); assert(nb === 1L)
    }
    // encode composition: doc 1 = [ab, ab, abab] -> 3 words,
    // 1+1+2 pieces, c+c+2c total cost
    val enc = CorpusPrep.unigramEncodeStats(docs).collect()
    assert(enc.length === 1)
    assert((enc(0).getLong(1), enc(0).getLong(2), enc(0).getLong(3))
      === ((3L, 4L, 4 * c)))
  }

  test("unigram prune round: argmin-path tie-break, usage counts, re-costed round 2") {
    // tie-break pin: "abc" has two (cost, np)-optimal paths, [ab,c]
    // and [a,bc] (freqs: a=3, c=3, ab=3, bc=3 — b=4 only hurts the
    // all-singles path); the \u0001-separated lexicographic order
    // picks [a,bc], so usage must credit a and bc, never ab, from abc
    val tie = docsOf(1L -> "abc abc abx bcy")
    val counts = CorpusPrep.unigramViterbiCounts(tie).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(counts("a") === ((2L, 1L)))   // only from abc x2
    assert(counts("bc") === ((3L, 2L)))  // abc x2 + bcy x1
    assert(counts("ab") === ((1L, 1L)))  // only from abx
    assert(!counts.contains("b"))        // never on an optimal path
    // and the DP reports exactly 2 optimal paths for abc
    val nb = CorpusPrep.unigramSegment(tie).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(nb("abc") === 2L)
    // prune round on the ab/abab corpus: ab survives (usage 4 >= 3),
    // zero-usage singles stay with add-one freq 1; tot2 = 1+1+5
    val docs = docsOf(2L -> "ab ab abab")
    val pruned = CorpusPrep.unigramVocabPruned(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(pruned === Map("a" -> (0L, 1L), "b" -> (0L, 1L),
      "ab" -> (4L, 5L)))
    val cAb = math.round(math.log(7.0 / 5.0) * 1e9)
    val seg2 = CorpusPrep.unigramSegmentPruned(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getInt(3))).toMap
    assert(seg2("ab") === ((cAb, 1)))
    assert(seg2("abab") === ((2 * cAb, 2)))
  }

  test("multi-round unigram trainer: depth 2 equals the gated prune path, deeper rounds reach a fixed point") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val one = CorpusPrep.unigramSegmentPruned(docs).collect().toSeq
    val multi = CorpusPrep.unigramTrainRounds(docs, rounds = 2).collect().toSeq
    assert(multi === one)
    // convergence: once no multi-char piece falls under the floor,
    // further rounds only re-derive the same model (usage of the
    // surviving pieces is stable) — depth 4 ≡ depth 5
    val d4 = CorpusPrep.unigramTrainRounds(docs, rounds = 4).collect().toSeq
    val d5 = CorpusPrep.unigramTrainRounds(docs, rounds = 5).collect().toSeq
    assert(d4 === d5)
    // rounds=1 is the unpruned model
    assert(CorpusPrep.unigramTrainRounds(docs, rounds = 1).collect().toSeq
      === CorpusPrep.unigramSegment(docs).collect().toSeq)
  }

  test("unigram trainers past depth 2: rounds 3 and 4 pinned, each unlike round 2") {
    // order-insensitive pin: row count + md5 of the sorted rendered rows
    def pin(df: org.apache.spark.sql.DataFrame): (Int, String) = {
      val rows = df.collect().map(_.mkString("|")).sorted
      (rows.length, java.security.MessageDigest.getInstance("MD5")
        .digest(rows.mkString("\n").getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString)
    }
    val fixture = graft.sources.Tables.documents(spark,
      "/root/testdata/sf0.001")
    // the floor trainer reaches its fixed point at depth 2 on the
    // sf0.001 (and sf0.01) fixture — depths 2 to 5 are identical there
    // — so it is pinned on a hand corpus whose rounds keep
    // re-estimating usage (depths 2, 3 and 4 all differ)
    val floorDocs = docsOf(1L -> ("caa caa caa bbccc abccb abccb " +
      "ab ab ab ab cb cb cb cb baaa baaa baaa baaa"))
    val cases = Seq(
      ("floor", floorDocs, CorpusPrep.unigramTrainRounds _),
      ("em", fixture, CorpusPrep.unigramTrainEmRounds _),
      ("soft", fixture, CorpusPrep.unigramTrainEmSoftRounds _))
    val expected = Map(
      // recorded at the commit before the trainers shared one loop
      ("floor", 3) -> ((6, "89e4e8024079a99bd6ece2387fd9915c")),
      ("floor", 4) -> ((6, "d2e303e6dbc1b5aa75cfa3f38171740f")),
      ("em", 3) -> ((30, "b1f21d39ec2f2fb8e9d96588e92d60f2")),
      ("em", 4) -> ((30, "54bdf13fc22df110d17780608249faa0")),
      ("soft", 3) -> ((30, "d0f187626b602f290c69495b88736274")),
      ("soft", 4) -> ((30, "595362a8a6e57107bb22950ea9c914fd")))
    for ((name, docs, train) <- cases) {
      val depth2 = pin(train(docs, 2))
      for (depth <- Seq(3, 4)) {
        val got = pin(train(docs, depth))
        assert(got === expected((name, depth)), s"$name at depth $depth")
        assert(got._2 !== depth2._2, s"$name at depth $depth equals depth 2")
      }
    }
  }

  test("tokenizer comparison: fertility floors, identical word stream on both sides") {
    // tiny corpus: BPE (3 merges) collapses ab and abab to one id
    // each; unigram has no abab piece (freq 1 < floor) -> 1 + 1 + 2
    val docs = docsOf(1L -> "ab ab abab")
    val r = CorpusPrep.tokenizerCompare(docs).collect()
    assert(r.length === 1)
    assert((r(0).getLong(1), r(0).getLong(2), r(0).getLong(3),
      r(0).getLong(4)) === ((3L, 3L, 0L, 4L)))
    assert((r(0).getLong(5), r(0).getLong(6)) === ((10000L, 13333L)))
    // fixture: every doc has >= 1 piece per word under both tokenizers
    val fx = CorpusPrep.tokenizerCompare(graft.sources.Tables.documents(
      spark, "/root/testdata/sf0.001")).collect()
    assert(fx.nonEmpty)
    fx.foreach { row =>
      assert(row.getLong(5) >= 10000L && row.getLong(6) >= 10000L)
    }
  }

  test("unigram fertility by lang: aggregates the per-doc encode view exactly") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val perDoc = CorpusPrep.unigramEncodeStats(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val langOf = docs.select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byLang = CorpusPrep.unigramFertilityByLang(docs).collect()
    assert(byLang.nonEmpty)
    byLang.foreach { r =>
      val lang = r.getString(0)
      val ids = langOf.collect { case (id, l) if l == lang => id }.toSeq
      val w = ids.map(id => perDoc.get(id).map(_._1).getOrElse(0L)).sum
      val p = ids.map(id => perDoc.get(id).map(_._2).getOrElse(0L)).sum
      assert(r.getLong(1) === ids.size.toLong)
      assert(r.getLong(2) === w && r.getLong(3) === p)
      if (w > 0) assert(r.getLong(4) === p * 100 / w) else assert(r.isNullAt(4))
    }
  }

  test("unigram segment on the fixture: DP optimum bounded by the all-singles path") {
    val docs = graft.sources.Tables.documents(spark,
      "/root/testdata/sf0.001")
    val costs = CorpusPrep.unigramVocabCosts(docs).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val rows = CorpusPrep.unigramSegment(docs).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, cost, np, nb) =
        (r.getString(0), r.getLong(2), r.getInt(3), r.getLong(4))
      val singles = w.map(ch => costs(ch.toString)).sum
      assert(cost <= singles)
      assert(np >= (w.length + CorpusPrep.UnigramMaxPieceLen - 1)
        / CorpusPrep.UnigramMaxPieceLen && np <= w.length)
      assert(nb >= 1L)
    }
    // the vocabulary actually compresses something on the fixture
    assert(rows.exists(r => r.getInt(3) < r.getString(0).length))
  }

  test("deep BPE trainer: merge-for-merge equal to the distributed loop, to exhaustion") {
    // a corpus rich enough for ~a dozen merges with p=q overlaps,
    // shared prefixes, and count ties resolved lexically
    val docs = docsOf(
      1L -> "banana bandana banana abba abba cabbage",
      2L -> "aaaa aaab abab banana cabbage dada dada dada")
    val deep = CorpusPrep.bpeTrainDeep(docs, rounds = 100)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // exhaustion: fewer than 100 merges, every word fully merged
    assert(deep.length < 100 && deep.nonEmpty)
    val dist = CorpusPrep.bpeMergeRounds(docs, rounds = deep.length)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(deep.toSeq === dist.toSeq)
  }

  test("deep BPE trainer: decremented-argmax pair stays selectable (lazy-PQ regression)") {
    // dict {xab:10, ab:9, xa:6, cd:5}: merging (a,b) DECREMENTS
    // (x,a) 16→6 without destroying it everywhere ("xa" survives).
    // A lazy-invalidation queue that only enqueues on positive
    // deltas never holds the value 6, so the exact-match pop check
    // discards every (x,a) entry and the trainer wrongly reports
    // exhaustion after (c,d) — the ADVICE-r8 counterexample.
    val docs = docsOf(
      1L -> (("xab " * 10) + ("ab " * 9) + ("xa " * 6) + ("cd " * 5)).trim)
    val deep = CorpusPrep.bpeTrainDeep(docs, rounds = 100)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(deep.toSeq === Seq(
      (1, "a", "b", 19L), (2, "x", "ab", 10L),
      (3, "x", "a", 6L), (4, "c", "d", 5L)))
    // and the distributed loop agrees merge-for-merge
    val dist = CorpusPrep.bpeMergeRounds(docs, rounds = deep.length)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(deep.toSeq === dist.toSeq)
  }

  test("deep final dict equals the distributed loop's encode-side state; deep encode ids match") {
    val docs = docsOf(
      1L -> "banana bandana banana abba abba cabbage",
      2L -> "aaaa aaab abab banana cabbage dada dada dada")
    // per-word merged symbol sequences agree at the oracle depth...
    val deepDict = CorpusPrep.bpeTrainDeepDict(docs, rounds = 3)
      .collect().map(r => (r.getString(0), r.getSeq[String](2).toList)).toMap
    val distStats = CorpusPrep.bpeEncodeStats(docs, rounds = 3)
      .collect().map(r => (r.getString(0), r.getLong(3))).toMap
    assert(deepDict.keySet === distStats.keySet)
    deepDict.foreach { case (w, syms) =>
      assert(syms.length.toLong === distStats(w), s"word $w: $syms")
      assert(syms.mkString("") === w)
    }
    // ...and the composed deep encode emits identical id arrays
    val a = CorpusPrep.bpeEncodeIds(docs).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    val b = CorpusPrep.bpeEncodeIdsDeep(docs).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    assert(a === b)
  }

  test("tokenizer artifacts: persisted state reloads to bit-identical encodes; artifact tables are sane") {
    import graft.ext.TokenizerArtifact
    val docs = docsOf(
      1L -> "banana bandana banana abba abba cabbage",
      2L -> "aaaa aaab abab banana cabbage dada dada dada")
    val dir = tempDir("graft_tok_artifact_spec").toString
    // BPE: write, reload in a fresh lineage, encode — id arrays equal
    TokenizerArtifact.bpeWrite(docs, dir)
    val inline = CorpusPrep.bpeEncodeIds(docs).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    val loaded = TokenizerArtifact.bpeEncodeIds(docs, dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    assert(inline === loaded)
    // the merge-table artifact is the distributed loop's merge table
    val merges = spark.read.parquet(s"$dir/bpe_merges")
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2)))
    val dist = CorpusPrep.bpeMergeRounds(docs, CorpusPrep.BpeMergeRoundsN)
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(merges.toSeq === dist.toSeq)
    // unigram: persisted model carries the snapped integer costs;
    // encode-from-artifact equals the in-lineage encode stats
    TokenizerArtifact.unigramWrite(docs, dir)
    val m = spark.read.parquet(s"$dir/unigram_model")
    assert(m.schema("cost").dataType.typeName === "long")
    val a = CorpusPrep.unigramEncodeStats(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
    val b = TokenizerArtifact.unigramEncodeStats(docs, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
    assert(a.toSeq === b.toSeq)
  }

  test("cross-corpus artifact encode: unseen words land on unk, seen words on trained ids") {
    import graft.ext.TokenizerArtifact
    // train corpus knows {banana, cabbage}; encode corpus repeats
    // banana (seen) and introduces zzz (unseen → unk)
    val train = docsOf(1L -> "banana banana cabbage banana cabbage")
    val enc = docsOf(2L -> "banana zzz banana", 3L -> "zzz zzz")
    val dir = tempDir("graft_tok_cross_spec").toString
    TokenizerArtifact.bpeWrite(train, dir)
    val out = TokenizerArtifact.bpeEncodeIds(enc, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getSeq[Long](1).toList, r.getLong(2), r.getLong(3)))).toMap
    // doc 2: banana encodes via the trained vocab (same ids both
    // occurrences, none unk), zzz is one unk id
    val (ids2, nTok2, nUnk2) = out(2L)
    assert(nTok2 === 3L && nUnk2 === 1L)
    assert(ids2.count(_ == graft.ext.CorpusPrep.BpeUnkId) === 1)
    val bananaIds = ids2.takeWhile(_ != graft.ext.CorpusPrep.BpeUnkId)
    assert(ids2.endsWith(bananaIds), "same word must encode identically")
    // doc 3: all unseen → every token one unk id
    assert(out(3L) === ((List(graft.ext.CorpusPrep.BpeUnkId,
      graft.ext.CorpusPrep.BpeUnkId), 2L, 2L)))
  }

  test("cross-corpus unigram encode: unseen chars segment as unk pieces at the fixed cost") {
    import graft.ext.{CorpusPrep, TokenizerArtifact}
    val train = docsOf(1L -> "banana banana cabbage banana cabbage")
    // zz is entirely unseen chars; banana is fully trained
    val enc = docsOf(2L -> "banana zz")
    val dir = tempDir("graft_unigram_cross_spec").toString
    TokenizerArtifact.unigramWrite(train, dir)
    val out = TokenizerArtifact.unigramEncodeStats(enc, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val (nWords, nPieces, cost) = out(2L)
    assert(nWords === 2L)
    // banana's optimum under the train-only model is corpus-dependent;
    // pin the DELTA contributed by zz instead: 2 unk chars at exactly
    // 2x the fixed unk cost, 2 pieces
    val bananaOnly = TokenizerArtifact.unigramEncodeStats(
        docsOf(3L -> "banana"), dir).collect()
      .map(r => (r.getLong(2), r.getLong(3))).head
    assert(nPieces === bananaOnly._1 + 2L)
    assert(cost === bananaOnly._2 + 2L * CorpusPrep.UnigramUnkCharCost)
  }

  test("EM loss: per-piece delta equals an independent vocab-minus-piece re-segmentation") {
    val docs = docsOf(
      1L -> "banana bandana banana abba abba cabbage",
      2L -> "aaaa aaab abab banana cabbage dada dada dada")
    val words = CorpusPrep.bpeWordDict(docs).select(col("word"), col("wc"))
    val vocab = CorpusPrep.unigramVocabCosts(docs)
    val loss = CorpusPrep.unigramEmLoss(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(loss.nonEmpty)
    assert(loss.values.forall(_._1 >= 0L), "exclusion can only raise cost")
    // independent cross-check on EVERY charged piece: drop it from the
    // vocab frame wholesale, re-run the (word-keyed) DP, and sum
    // wc·Δcost over exactly the words whose argmin path used the piece
    val base = CorpusPrep.unigramSegment(docs).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val paths = viterbiPaths(words, vocab)
    for ((p, (lossV, nWords)) <- loss) {
      val users = paths.filter(_._2.contains(p)).keySet
      assert(users.size.toLong === nWords)
      val without = CorpusPrep.viterbiDp(words,
        vocab.filter(col("piece") =!= p))
      val alt = without.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      val wcs = words.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expected = users.toSeq.map(w => wcs(w) * (alt(w) - base(w))).sum
      assert(lossV === expected, s"piece $p")
    }
  }

  private def viterbiPaths(words: org.apache.spark.sql.DataFrame,
      vocab: org.apache.spark.sql.DataFrame): Map[String, Set[String]] =
    CorpusPrep.viterbiDp(words, vocab).select(col("word"), col("path"))
      .collect()
      .map(r => r.getString(0) ->
        r.getString(1).split(CorpusPrep.UnigramPathSep)
          .filter(p => p.length >= 2).toSet)
      .toMap

  test("EM prune: singles always survive, exactly n_multi div 5 pruned, round-2 loop bit-equals the distributed model") {
    val docs = docsOf(
      1L -> "banana bandana banana abba abba cabbage",
      2L -> "aaaa aaab abab banana cabbage dada dada dada")
    val vocab = CorpusPrep.unigramVocab(docs).collect()
      .map(_.getString(0))
    val singles = vocab.filter(_.length == 1).toSet
    val nMulti = vocab.count(_.length >= 2)
    val surv = CorpusPrep.unigramVocabEmPruned(docs).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(singles.subsetOf(surv.map(_._1).toSet))
    assert(surv.count(_._1.length >= 2) ===
      nMulti - nMulti / CorpusPrep.UnigramEmPruneDiv)
    assert(surv.forall(_._2 >= 1L), "add-one smoothing floors freq2 at 1")
    // the collected 2-round EM loop's final segmentation must equal
    // the distributed single-prune path's bit-for-bit (shared ln
    // discipline) — the unigram_train_em gate's aux bet, pinned here
    val fromLoop = CorpusPrep.unigramTrainEmRounds(docs, 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getLong(4))).toSeq
    val fromAux = CorpusPrep.viterbiDp(
        CorpusPrep.bpeWordDict(docs).select(col("word"), col("wc")),
        CorpusPrep.unigramVocabEmCosts(docs))
      .select(col("word"), col("wc"), col("total_cost"), col("n_pieces"),
        col("n_best"))
      .orderBy(col("word")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getLong(4))).toSeq
    assert(fromLoop === fromAux)
  }

  test("fertility by lang: exact integer ratios, zero-token language gets NULL ratios") {
    import spark.implicits._
    // merge-rounds known corpus (aaab x3, ab x2, zz x1): default cap
    // keeps all three words, so aaab/ab encode to 1 id and zz to its
    // unmerged [z, z] = 2 ids; "!!" has no eligible token
    val docs = Seq(
      (1L, "aaab aaab aaab ab", "en"),
      (2L, "ab zz", "de"),
      (3L, "!!", "xx"))
      .toDF("doc_id", "text", "lang")
    val rows = CorpusPrep.bpeFertilityByLang(docs).collect().map(r =>
      (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5),
        if (r.isNullAt(6)) -1L else r.getLong(6)))).toMap
    // en: 4 tokens -> 4 ids; de: 2 tokens -> 3 ids (zz = 2 symbols)
    assert(rows("en") === ((1L, 4L, 4L, 0L, 100L, 0L)))
    assert(rows("de") === ((1L, 2L, 3L, 0L, 150L, 0L)))
    assert(rows("xx") === ((1L, 0L, 0L, 0L, -1L, -1L)))
  }

  test("deep BPE trainer: dictionary cap binds on (wc desc, word)") {
    // cap 1 keeps only the most frequent word; merges never see "zz"
    val docs = docsOf(1L -> "abab abab zz")
    val deep = CorpusPrep.bpeTrainDeep(docs, rounds = 10, dictCap = 1)
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(deep.toSeq === Seq(("a", "b"), ("ab", "ab")))
  }

  test("BPE encode ids: in-vocab words get merged-symbol ids, OOV gets unk, order kept") {
    // corpus: "aaab" x3, "ab" x2, "zz" x1. 3 merge rounds learn
    // (a,a), (a,b), (aa,ab) [see merge-rounds test]; final dict:
    //   aaab -> [aaab], ab -> [ab], zz -> [zz]
    // cap = 2 keeps the top-2 words by (wc desc, word): aaab, ab.
    // Symbol ids lexical over {aaab, ab}: aaab=1, ab=2; zz is OOV -> 0.
    val docs = docsOf(1L -> "aaab aaab aaab ab zz", 2L -> "ab zz aaab",
      3L -> "!!! ??")  // no eligible tokens -> empty ids
    val out = CorpusPrep.bpeEncodeIds(docs, rounds = 3, cap = 2)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(out(0).getSeq[Long](1) === Seq(1L, 1L, 1L, 2L, 0L))
    assert(out(0).getLong(2) === 5L && out(0).getLong(3) === 1L)
    assert(out(1).getSeq[Long](1) === Seq(2L, 0L, 1L))
    assert(out(2).getSeq[Long](1) === Seq.empty)
    assert(out(2).getLong(2) === 0L && out(2).getLong(3) === 0L)
  }

  test("BPE encode ids compose with packing: spans cover exactly the encoded stream") {
    // multi-symbol encodings: round-1 pairs are (a,b) = 1 + 4 = 5 vs
    // (a,a) = 2, so the round merges (a,b): "aaab" -> [a, a, ab]
    // (3 symbols), "ab" -> [ab] (1 symbol)
    val docs = docsOf(1L -> "aaab ab", 2L -> "ab ab ab", 3L -> "??")
    val enc = CorpusPrep.bpeEncodeIds(docs, rounds = 1, cap = 10)
    val rows = enc.orderBy("doc_id").collect()
    assert(rows(0).getSeq[Long](1).length === 4)  // 3 + 1
    assert(rows(1).getSeq[Long](1).length === 3)  // 1 x 3
    assert(rows(2).getSeq[Long](1).isEmpty)
    val packed = graft.ext.Packing.packSequencesOf(
      enc.select(col("doc_id"), size(col("ids")).cast("long").as("n")))
      .groupBy(col("doc_id")).agg(sum(col("n_toks")).as("covered"))
      .orderBy("doc_id").collect()
    // zero-id doc 3 contributes no spans; others are covered exactly
    assert(packed.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 4L), (2L, 3L)))
  }

  test("EM prune driver sort: Scala/UTF8String/window orderings agree in UTF-8 byte order on supplementary-plane pieces") {
    import org.apache.spark.unsafe.types.UTF8String
    // adversarial alphabet spanning every UTF-8 width: 'z' (1 byte),
    // 'e-acute' (2), the euro sign (3), U+FFFD (3, ABOVE the surrogate
    // range), and U+1D54F (4 bytes, supplementary plane — its UTF-16
    // surrogates sort BELOW U+FFFD while its UTF-8 bytes sort ABOVE):
    // exactly the divergence the r9 advisory flagged in the driver
    // prune sort.
    val X = "\uD835\uDD4F" // U+1D54F, supplementary plane
    val pieces = Seq("zz", "z\u00E9", s"z$X", "\u00E9z", "\u20ACz",
      "\uFFFDz", s"${X}z", "\u00E9\u00E9", "\u20AC\u20AC", s"$X$X")
    // 1. the latent is real: Scala's default (UTF-16 code unit) order
    //    disagrees with UTF-8 byte order on this alphabet
    assert(pieces.sorted !== pieces.sorted(CorpusPrep.Utf8Ordering))
    // 2. Utf8Ordering ≡ UTF8String's binary comparator (the order the
    //    distributed window's string tie-break runs in, and DuckDB's
    //    VARCHAR memcmp collation) on every pair
    for (a <- pieces; b <- pieces) {
      val want = Integer.signum(
        UTF8String.fromString(a).compareTo(UTF8String.fromString(b)))
      assert(Integer.signum(CorpusPrep.Utf8Ordering.compare(a, b)) === want,
        s"Utf8Ordering diverges from UTF8String on ($a, $b)")
    }
    // 3. the prune DECISION matches the distributed row_number twin
    //    (unigramVocabEmPruned's window shape) — equal losses so the
    //    cut falls entirely on the string tie-break, where the orders
    //    diverge: bottom-2 under UTF-16 order would be {zz, zX}
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val multi = pieces.map(p => (p, 5L))
    val fromDriver = CorpusPrep.emPruneBottom(multi)
    val dist = multi.toDF("piece", "loss0")
      .withColumn("rn",
        row_number().over(Window.orderBy(col("loss0"), col("piece"))))
      .filter(col("rn") <= multi.size / CorpusPrep.UnigramEmPruneDiv)
      .collect().map(_.getString(0)).toSet
    assert(fromDriver === dist)
    assert(fromDriver === Set("zz", "z\u00E9")) // NOT the UTF-16 pick {zz, zX}
  }

  test("artifact write fan-out derives from the collect-contract caps, never a bare coalesce(1)") {
    import graft.ext.TokenizerArtifact
    import TokenizerArtifact.{artifactParts, ArtifactRowsPerFile, UnigramAlphabetBound}
    // the relation: ⌈cap / rowsPerFile⌉, floored at 1
    assert(artifactParts(1L) === 1)
    assert(artifactParts(ArtifactRowsPerFile) === 1)
    assert(artifactParts(ArtifactRowsPerFile + 1) === 2)
    assert(artifactParts(CorpusPrep.BpeDictCap.toLong) ===
      ((CorpusPrep.BpeDictCap + ArtifactRowsPerFile - 1) /
        ArtifactRowsPerFile).toInt)
    // a cap raise widens the fan-out in the SAME motion — the failure
    // mode the r9 advisory named (cap raised, one-task gigabyte write)
    assert(artifactParts(CorpusPrep.BpeDictCap.toLong * 8L) ===
      8 * artifactParts(CorpusPrep.BpeDictCap.toLong))
    assert(artifactParts(
      CorpusPrep.UnigramVocabCap.toLong + UnigramAlphabetBound) === 1)
    // written artifacts carry at most the derived file count (empty
    // writer partitions may emit no file) and at least one
    val docs = docsOf(1L -> "banana bandana banana abba abba cabbage")
    val dir = tempDir("graft_artifact_parts_spec").toString
    TokenizerArtifact.bpeWrite(docs, dir)
    TokenizerArtifact.byteBpeWrite(docs, dir)
    TokenizerArtifact.wordPieceWrite(docs, dir)
    TokenizerArtifact.unigramWrite(docs, dir)
    // the artifact layout: six tables over four families, and nothing
    // else (WordPiece persists only its inventory)
    assert(new java.io.File(dir).list().toSet === Set("bpe_merges",
      "bpe_vocab", "bytebpe_merges", "bytebpe_vocab", "wordpiece_vocab",
      "unigram_model"))
    def partFiles(sub: String): Int =
      new java.io.File(s"$dir/$sub").listFiles()
        .count(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
    // both merge families share one vocab writer, whose fan-out is
    // min(defaultParallelism, rows / 10000 + 1): one file for a
    // one-document dictionary
    for (sub <- Seq("bpe_vocab", "bytebpe_vocab")) {
      val vocabFiles = partFiles(sub)
      assert(vocabFiles >= 1 &&
        vocabFiles <= artifactParts(CorpusPrep.BpeDictCap.toLong), sub)
      assert(vocabFiles === 1, sub)
    }
    // cap + alphabet bound fits one file
    assert(partFiles("wordpiece_vocab") === 1)
    assert(partFiles("unigram_model") === 1)
  }

  test("soft-EM marginals equal exhaustive path-space expectations; trainer round 2 = single soft prune") {
    val docs = docsOf(
      1L -> "banana bandana banana abba abba cabbage",
      2L -> "aaaa aaab abab banana cabbage dada dada dada")
    val words = CorpusPrep.bpeWordDict(docs).select(col("word"), col("wc"))
    val vocab = CorpusPrep.unigramVocabCosts(docs)
    val costs = vocab.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    // driver-side BRUTE enumeration of every segmentation (the third
    // independent formulation next to the engine's lattice DP and the
    // oracle's recursive CTE): per word, per piece, the expected
    // occurrence count under scaled path weights
    def paths(w: String): Seq[(Seq[String], Long)] =
      if (w.isEmpty) Seq((Nil, 0L))
      else (1 to math.min(CorpusPrep.UnigramMaxPieceLen, w.length))
        .flatMap { k =>
          val p = w.take(k)
          costs.get(p).toSeq.flatMap(c =>
            paths(w.drop(k)).map { case (ps, pc) => (p +: ps, c + pc) })
        }
    val got = CorpusPrep.unigramSoftMarginals(words, vocab).collect()
      .map(r => (r.getString(0), r.getString(2)) -> r.getLong(3)).toMap
    var multiPathWords = 0
    for (w <- words.collect().map(_.getString(0))) {
      val ps = paths(w)
      assert(ps.nonEmpty, s"no segmentation for $w")
      if (ps.size > 1) multiPathWords += 1
      val best = ps.map(_._2).min
      val weighted = ps.map { case (pieces, c) =>
        (pieces, math.exp(-(c - best).toDouble / 1e9)) }
      val z = weighted.map(_._2).sum
      val expect = weighted.flatMap { case (pieces, wt) => pieces.map(_ -> wt) }
        .groupBy(_._1).view
        .mapValues(v => math.round(v.map(_._2).sum / z * 1e4)).toMap
      for ((p, e) <- expect)
        assert(got((w, p)) === e, s"marginal mismatch at ($w, $p)")
      assert(got.keys.filter(_._1 == w).map(_._2).toSet === expect.keySet,
        s"piece support mismatch for $w")
    }
    assert(multiPathWords > 0,
      "fixture must exercise true multi-path lattices or soft == hard trivially")
    // the trainer's collected round-2 loop lands bit-equal on the
    // distributed soft model's segmentation (the unigram_train_em
    // discipline, soft flavor)
    val fromTrainer = CorpusPrep.unigramTrainEmSoftRounds(docs, 2)
      .collect().map(_.toSeq.toList).toList
    val fromModel = CorpusPrep.viterbiDp(words,
        CorpusPrep.unigramVocabEmSoftCosts(docs))
      .select(col("word"), col("wc"), col("total_cost"), col("n_pieces"),
        col("n_best"))
      .orderBy(col("word")).collect().map(_.toSeq.toList).toList
    assert(fromTrainer === fromModel)
  }

  test("k-best segmentation equals the brute-enumerated top-K; rank 1 is the Viterbi argmin") {
    val docs = docsOf(
      1L -> "banana bandana banana abba abba cabbage",
      2L -> "aaaa aaab abab banana cabbage dada dada dada")
    val words = CorpusPrep.bpeWordDict(docs).select(col("word"), col("wc"))
    val vocab = CorpusPrep.unigramVocabCosts(docs)
    val costs = vocab.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    def paths(w: String): Seq[(Seq[String], Long)] =
      if (w.isEmpty) Seq((Nil, 0L))
      else (1 to math.min(CorpusPrep.UnigramMaxPieceLen, w.length))
        .flatMap { k =>
          val p = w.take(k)
          costs.get(p).toSeq.flatMap(c =>
            paths(w.drop(k)).map { case (ps, pc) => (p +: ps, c + pc) })
        }
    val got = CorpusPrep.unigramSegmentNbest(docs).collect()
      .map(r => (r.getString(0), r.getLong(2)) ->
        ((r.getLong(3), r.getInt(4), r.getString(5)))).toMap
    var truncatedWords = 0
    for (w <- words.collect().map(_.getString(0))) {
      // brute top-K under the engine's exact comparator: (cost, np,
      // sep-joined path) — the alphabet is ASCII so Java string order
      // == UTF-8 byte order here
      val ranked = paths(w)
        .map { case (ps, c) =>
          (c, ps.length, ps.mkString(CorpusPrep.UnigramPathSep,
            CorpusPrep.UnigramPathSep, "")) }
        .sorted.take(CorpusPrep.UnigramNbestK)
      if (paths(w).size > CorpusPrep.UnigramNbestK) truncatedWords += 1
      for (((c, np, sep), i) <- ranked.zipWithIndex) {
        val want = (c, np, sep.drop(1).replace(CorpusPrep.UnigramPathSep, "|"))
        assert(got((w, (i + 1).toLong)) === want,
          s"k-best mismatch at ($w, rank ${i + 1})")
      }
      // no phantom ranks beyond the path-space size
      assert(!got.contains((w, (ranked.size + 1).toLong)))
    }
    assert(truncatedWords > 0,
      "fixture must exercise the top-K CUT or the pruning is untested")
    // rank 1 ≡ the single-best DP's argmin (cost, pieces, path)
    val best = CorpusPrep.viterbiDp(words, vocab).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(2), r.getInt(3),
          r.getString(5).drop(1).replace(CorpusPrep.UnigramPathSep, "|"))))
      .toMap
    for ((w, b) <- best) assert(got((w, 1L)) === b,
      s"rank 1 diverges from the Viterbi argmin for $w")
  }

  test("BPE-dropout: rate 0 bit-equals the plain encode; the shipped rate only re-segments (token/unk counts invariant, never fewer ids)") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("n_tokens"), col("n_unk"),
          md5(array_join(transform(col("ids"), i => i.cast("string")), " "))
            .as("m"), size(col("ids")).as("n_ids"))
        .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    val plain = canon(CorpusPrep.bpeEncodeIds(docs))
    assert(canon(CorpusPrep.bpeEncodeIdsDropout(docs, rate = 0.0)) === plain,
      "rate-0 dropout must be the identity on the encode")
    val dropped = canon(CorpusPrep.bpeEncodeIdsDropout(docs))
    assert(dropped.map(_.take(3)) === plain.map(_.take(3)),
      "dropout must not change doc/token/unk counts — only segmentation")
    // a dropped merge splits a symbol: id sequences get longer, never shorter
    assert(dropped.zip(plain).forall { case (d, p) =>
      d(4).asInstanceOf[Int] >= p(4).asInstanceOf[Int] })
    assert(dropped.zip(plain).exists(dp => dp._1(3) != dp._2(3)),
      "the shipped rate must actually drop merges on this fixture")
  }

  test("sampled segmentation: exactly one k-best pick per word; snapped weights clear the rounding boundary (advisory-r10 margin check)") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val nb = CorpusPrep.unigramSegmentNbest(docs).collect()
      .map(r => (r.getString(0), r.getLong(2)) ->
        ((r.getLong(1), r.getLong(3), r.getInt(4), r.getString(5))))
      .toMap
    val words = nb.keys.map(_._1).toSet
    val got = CorpusPrep.unigramSegmentSampled(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4),
          r.getString(5))))
    // exactly one row per dict word, and the pick IS its k-best row
    assert(got.map(_._1).toSet === words)
    assert(got.length === words.size)
    for ((w, (wc, rank, cost, np, path)) <- got) {
      val (nwc, ncost, nnp, npath) = nb((w, rank))
      assert((wc, cost, np, path) === ((nwc, ncost, nnp, npath)),
        s"sampled pick for $w is not its rank-$rank k-best row")
    }
    // snap-margin audit (the advisory-r10 class): every raw softmax
    // weight must sit farther than 1e-6 from the .5 rounding boundary,
    // so the two engines' last-ulp exp() differences cannot flip the
    // snapped integer
    val costsByWord = nb.toSeq.groupBy(_._1._1)
    for ((w, rows) <- costsByWord) {
      val best = rows.map(_._2._2).min
      for ((_, (_, c, _, _)) <- rows) {
        val raw = math.exp((c - best).toDouble *
          (-CorpusPrep.SubwordSampleAlpha / 1e9)) * 1e6
        val frac = raw - math.floor(raw)
        assert(math.abs(frac - 0.5) > 1e-6,
          s"weight for $w sits ${math.abs(frac - 0.5)} from the rounding " +
            "boundary — cross-engine exp() ulp noise could flip the snap")
      }
    }
  }

  test("soft-EM snap margin: every marginal's raw 1e-4 expectation clears the rounding boundary on the fixture (advisory r10)") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val words = CorpusPrep.bpeWordDict(docs).select(col("word"), col("wc"))
    val vocab = CorpusPrep.unigramVocabCosts(docs)
    val costs = vocab.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    def paths(w: String): Seq[(Seq[String], Long)] =
      if (w.isEmpty) Seq((Nil, 0L))
      else (1 to math.min(CorpusPrep.UnigramMaxPieceLen, w.length))
        .flatMap { k =>
          val p = w.take(k)
          costs.get(p).toSeq.flatMap(c =>
            paths(w.drop(k)).map { case (ps, pc) => (p +: ps, c + pc) })
        }
    var checked = 0
    for (w <- words.collect().map(_.getString(0))) {
      val ps = paths(w)
      val best = ps.map(_._2).min
      val weighted = ps.map { case (pieces, c) =>
        (pieces, math.exp(-(c - best).toDouble / 1e9)) }
      val z = weighted.map(_._2).sum
      val expect = weighted.flatMap { case (pieces, wt) => pieces.map(_ -> wt) }
        .groupBy(_._1).view.mapValues(v => v.map(_._2).sum / z * 1e4)
      for ((_, raw) <- expect) {
        val frac = raw - math.floor(raw)
        assert(math.abs(frac - 0.5) > 1e-6,
          s"soft marginal for $w sits ${math.abs(frac - 0.5)} from the " +
            ".5 boundary — the 1e-4 snap could diverge across engines")
        checked += 1
      }
    }
    assert(checked > 0)
  }

  test("wordpiece: likelihood-ratio argmax diverges from BPE's count argmax where it must") {
    // pairs (a,##b) cnt 8, (a,##d) cnt 8, (c,##b) cnt 8, (c,##d) cnt 2;
    // singles a:16 c:10 ##b:16 ##d:10. BPE (count desc, lexical) picks
    // (a,##b); WordPiece scores 8/(16·16) < 8/(16·10) = 8/(10·16) —
    // the ratio tie between (a,##d) and (c,##b) breaks lexically to
    // (a,##d), and the merged symbol strips q's continuation marker.
    val docs = docsOf((0L until 8L).map(i => i -> "ab ad cb").toSeq ++
      Seq(8L -> "cd cd"): _*)
    val bpe = CorpusPrep.bpeMergeRounds(docs, rounds = 1).collect()
    assert((bpe(0).getString(1), bpe(0).getString(2)) === ("a", "b"))
    val wp = CorpusPrep.wordPieceMergeRounds(docs, rounds = 1).collect()
    assert((wp(0).getString(1), wp(0).getString(2)) === ("a", "##d"))
    assert(wp(0).getLong(3) === 8L)   // cnt(a,##d)
    assert(wp(0).getLong(4) === 16L)  // cp: 'a' opens ab ×8 and ad ×8
    assert(wp(0).getLong(5) === 10L)  // cq: ##d closes ad ×8 and cd ×2
    // score_key = floor(8e18 / (16·10)) — exact integer both engines
    assert(wp(0).getLong(6) === 8L * 1000000000000000000L / (16L * 10L))
    // the trained dict carries the merged, marker-stripped symbol
    val enc = CorpusPrep.wordPieceEncodeWords(docs, rounds = 1)
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(enc("ad") === "ad")
    assert(enc("ab") === "a|##b")
  }

  test("deep WordPiece trainer: merge-for-merge equal to the distributed loop, to exhaustion") {
    // a TWO-LETTER alphabet on purpose: every merge shifts the single-
    // symbol counts that every other live pair's score divides by, so
    // the denominator re-pricing path (the one structural delta from
    // the BPE deep loop) carries the argmax in most rounds — any
    // missed re-price diverges from the distributed loop, which
    // recomputes all scores from scratch each round. Kept SMALL
    // (≤ ~19 exhaustion merges by the Σ(len−1) bound) because the
    // distributed comparison chains one plan level per round — the
    // `##` marking doubles the symbol space, and the banana-scale BPE
    // fixture exhausts deep enough here to blow the executor stack
    val docs = docsOf(
      1L -> "abab abab abab baba baba abba baab aabb aabb",
      2L -> "abab baab bb aa ab ba baba abba")
    val deep = CorpusPrep.wordPieceTrainDeep(docs, rounds = 50)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // exhaustion: fewer than 50 merges, every word fully merged
    assert(deep.length < 50 && deep.nonEmpty)
    val dist = CorpusPrep.wordPieceMergeRounds(docs, rounds = deep.length)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(deep.toSeq === dist.toSeq)
    assert(deep.length >= 8,
      s"only ${deep.length} merges before exhaustion — fixture too " +
        "small to exercise the re-pricing loop meaningfully")
    // the re-pricing actually fired: some selected score EXCEEDS the
    // same pair's round-1 price (a denominator shrank under it) — on
    // a fixture where that never happens this test would silently
    // stop covering the re-pricing path, so pin it
    val r1 = CorpusPrep.wordPieceDeepMerges(
      CorpusPrep.wordPieceDictCollect(docs), 1).head
    assert(deep.exists(m => m._7 > r1._7),
      "no later merge ever out-scored round 1's argmax — fixture no " +
        "longer exercises denominator re-pricing")
  }

  test("deep WordPiece encode: composed deep-train → encode equals the distributed path") {
    val docs = docsOf(
      0L -> "abcd abcd abc ab cd bcd",
      1L -> "abcd xyq xy yq zz azd",
      2L -> "ab ab ab cd cd abcd queue")
    val deep = CorpusPrep.wordPieceEncodeDeep(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getInt(4)))
    val dist = CorpusPrep.wordPieceEncodeWords(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getInt(4)))
    assert(deep.toSeq === dist.toSeq)
  }

  test("wordpiece per-doc encode: digest reassembles the per-word encodes in token order") {
    val docs = docsOf(
      0L -> "abcd abcd xy zz abcd ab",   // repeats + order matter
      1L -> "Hello a supercalifragilisticexpialidocious ab cd", // caps,
      // 1-char and >24-char tokens are INELIGIBLE and must vanish
      2L -> "")                          // zero eligible tokens
    val byWord = CorpusPrep.wordPieceEncodeWords(docs)
      .collect().map(r => r.getString(0) ->
        ((if (r.getInt(4) == 1) 1L else r.getLong(2)),
          r.getString(3))).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val eligible = "^[a-z0-9]+$".r
    def expected(text: String): (Long, Long, Long, String) = {
      val toks = text.toLowerCase.trim.split("\\s+").toSeq
        .filter(w => eligible.matches(w) && w.length >= 2 &&
          w.length <= CorpusPrep.WordPieceMaxWordLen)
      val parts = toks.map(byWord(_))
      (toks.size.toLong,
        parts.count(_._2 == "[UNK]").toLong,
        parts.map(_._1).sum,
        md5hex(parts.map(_._2).mkString(" ")))
    }
    val got = CorpusPrep.wordPieceEncodeDocs(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))).toMap
    assert(got(0L) === expected("abcd abcd xy zz abcd ab"))
    assert(got(1L) ===
      expected("Hello a supercalifragilisticexpialidocious ab cd"))
    assert(got(2L) === ((0L, 0L, 0L, md5hex(""))))
  }

  test("wordpiece dead path: a stranded greedy match lands the whole word on [UNK]") {
    import spark.implicits._
    // inventory without ##d: greedy on "abd" takes "ab" (longest) then
    // finds nothing for the 'd' continuation — BERT semantics demand
    // the WHOLE word become [UNK], not a partial emission; "ab" and
    // "ad" stay encodable so the dead path is provably per-word
    val words = Seq(("abd", 3L), ("ab", 5L), ("ad", 2L)).toDF("word", "wc")
    val vocab = Seq("ab", "a", "##b").toDF("piece")
    // keyed by word: (n_pieces, pieces, is_unk)
    val byWord = CorpusPrep.wordPieceEncodeWith(words, vocab)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getString(3), r.getInt(4)))).toMap
    assert(byWord("abd") === ((0L, "[UNK]", 1)))
    assert(byWord("ab") === ((1L, "ab", 0)))
    assert(byWord("ad") === ((0L, "[UNK]", 1))) // ##d missing here too
  }

  test("wordpiece greedy encode: longest-match-first equals the brute-force reference on every dict word") {
    val docs = docsOf(
      0L -> "abcd abcd abc ab cd bcd",
      1L -> "abcd xyq xy yq zz azd",
      2L -> "ab ab ab cd cd abcd queue")
    val rounds = CorpusPrep.WordPieceRoundsN
    val vocab = CorpusPrep.wordPieceVocab(docs, rounds)
      .collect().map(_.getString(0)).toSet
    assert(vocab.exists(_.startsWith("##")), "no continuation pieces learned")
    // brute-force greedy: longest matching piece at each position,
    // ## form required past position 0, dead => [UNK]
    def greedy(word: String): (Long, String, Int) = {
      var pos = 0
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      while (pos < word.length) {
        val marked = (math.min(word.length - pos,
            CorpusPrep.WordPieceMaxPieceLen) to 1 by -1)
          .map(k => (if (pos > 0) "##" else "") + word.substring(pos, pos + k))
          .find(vocab.contains)
        marked match {
          case None => return (0L, "[UNK]", 1)
          case Some(p) =>
            out += p
            pos += (if (p.startsWith("##")) p.length - 2 else p.length)
        }
      }
      (out.size.toLong, out.mkString("|"), 0)
    }
    val got = CorpusPrep.wordPieceEncodeWords(docs, rounds).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (np, pieces, unk) = greedy(r.getString(0))
      assert((r.getLong(2), r.getString(3), r.getInt(4)) ===
        ((np, pieces, unk)), s"word ${r.getString(0)}")
      // non-unk pieces reassemble to the word
      if (unk == 0)
        assert(r.getString(3).split('|').map(_.stripPrefix("##"))
          .mkString === r.getString(0))
    }
    // the [UNK] path is deterministically pinned by the dead-path spec
    // below: a same-corpus trained vocab contains every dict word's
    // own final symbol path, so unk here would require a longest-match
    // deviation this tiny fixture doesn't produce
  }

  test("deep dict collects warn loudly when dictCap binds (ADVICE r12)") {
    import spark.implicits._
    val docs = Seq((1L, "aa bb cc dd ee ff")).toDF("doc_id", "text")
    def stderrOf(f: => Unit): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withErr(buf)(f)
      buf.toString
    }
    val w1 = stderrOf(
      assert(CorpusPrep.wordPieceDictCollect(docs, dictCap = 3).length === 3))
    assert(w1.contains("dictCap=3") && w1.contains("wordPieceDictCollect"))
    val w2 = stderrOf(
      assert(CorpusPrep.bpeDictCollect(docs, dictCap = 3).length === 3))
    assert(w2.contains("dictCap=3") && w2.contains("bpeDictCollect"))
    val w3 = stderrOf(
      assert(graft.ext.ByteBpe.byteDictCollect(docs, dictCap = 3).length === 3))
    assert(w3.contains("dictCap=3") && w3.contains("byteDictCollect"))
    // comfortably under the cap: silent
    assert(stderrOf(
      assert(CorpusPrep.wordPieceDictCollect(docs, dictCap = 100)
        .length === 6)).isEmpty)
  }

  test("BERT basic tokenization: punct split, accent strip, CJK isolation (r12 #3)") {
    import spark.implicits._
    val got = Seq(
      "Caf\u00e9, na\u00efve!",
      "\u00dcBER-St\u00e4dte (premi\u00e8re)?",
      "hello \u4f60\u597d,\u4e16\u754c! end",
      "R\u00c9SUM\u00c9 pi\u00f1ata; \u0153uvre",
      "\u00c5ngstr\u00f6m \u00fcber fa\u00e7ade").toDF("text")
      .select(CorpusPrep.bertTokens(col("text")).as("t"))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    // pinned against the DuckDB twin's outputs (strip_accents + the
    // same padding regexes) — the cross-engine split contract
    assert(got === Seq(
      Seq("cafe", ",", "naive", "!"),
      Seq("uber", "-", "stadte", "(", "premiere", ")", "?"),
      Seq("hello", "\u4f60", "\u597d", ",", "\u4e16", "\u754c", "!", "end"),
      Seq("resume", "pinata", ";", "\u0153uvre"),
      Seq("angstrom", "uber", "facade")))
  }

  test("BERT per-doc encode: over-long tokens land as ONE whole-word [UNK]") {
    import spark.implicits._
    // doc 0 (0 % 13 == 0) gains the synthetic 30-char word; doc 1
    // stays plain ascii (1 % 5 == 1 adds punct/accent decor)
    val docs = Seq((0L, "alpha beta"), (13L, "alpha beta"))
      .toDF("doc_id", "text")
    val out = CorpusPrep.wordPieceEncodeDocsBert(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // both docs get the long word (0 and 13 are both % 13 == 0);
    // exactly one [UNK] each from it
    assert(out(0L)._2 >= 1L && out(13L)._2 >= 1L)
    // the long word counts as ONE token (not a dropped row)
    assert(out(0L)._1 >= 3L)
  }
}
