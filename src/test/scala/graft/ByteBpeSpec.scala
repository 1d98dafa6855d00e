package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.ByteBpe

/** Byte-level BPE semantics on hand-computed fixtures (the gate then
  * hash-checks the same paths against DuckDB): pre-tokenization,
  * GPT-2 id layout, the deep loop vs an independent brute-force
  * recount, and the structural no-UNK guarantee — including the
  * cross-corpus byte fallback the training corpus never saw.
  */
class ByteBpeSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.local("graft-bytebpe-test")

  private def docsOf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("preTokens: spaces attach forward, runs split, extra spaces drop") {
    val out = docsOf(1L -> " hello, world!  foo 42")
      .select(ByteBpe.preTokens(col("text")).as("ws"))
      .collect()(0).getSeq[String](0)
    assert(out === Seq(" hello", ",", " world", "!", " foo", " 42"))
  }

  test("hexSyms: UTF-8 byte decomposition, uppercase pairs") {
    assert(ByteBpe.hexSyms("ab").toSeq === Seq("61", "62"))
    assert(ByteBpe.hexSyms(" b").toSeq === Seq("20", "62"))
    // é = C3 A9 (two bytes), 中 = E4 B8 AD (three)
    assert(ByteBpe.hexSyms("é").toSeq === Seq("C3", "A9"))
    assert(ByteBpe.hexSyms("中").toSeq === Seq("E4", "B8", "AD"))
  }

  test("encode: hand-computed merges, GPT-2 id layout (byte value | 255+r)") {
    // pre-tokens of "ab ab ab b": "ab"(1), " ab"(2), " b"(1)
    // pairs r1: (61,62)=3, (20,61)=2, (20,62)=1 -> merge 61+62 (id 256)
    // pairs r2: (20,6162)=2, (20,62)=1          -> merge 20+6162 (id 257)
    val docs = docsOf(1L -> "ab ab ab b")
    val out = ByteBpe.byteEncodeIdsWith(docs, docs, rounds = 2)
      .collect()(0)
    assert(out.getAs[scala.collection.Seq[Long]]("ids") === Seq(256L, 257L, 257L, 32L, 98L))
    assert(out.getAs[Long]("n_tokens") === 4L)
    assert(out.getAs[Long]("n_fallback") === 0L)
  }

  test("deep loop over byte symbols equals an independent brute-force recount") {
    // brute force: full pair recount each round, argmax by
    // (cnt desc, p, q) — the oracle's formulation, independent of the
    // delta-maintained lazy-PQ loop
    def brute(dict: Seq[(String, Long)], rounds: Int)
        : Seq[(Int, String, String, Long)] = {
      var words = dict.map { case (w, _) => ByteBpe.hexSyms(w).toSeq }
      val wcs = dict.map(_._2)
      (1 to rounds).flatMap { r =>
        val counts = words.zip(wcs).flatMap { case (syms, wc) =>
          syms.zip(syms.drop(1)).map(p => (p, wc))
        }.groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sum) }
        if (counts.isEmpty) Seq.empty
        else {
          val ((p, q), cnt) = counts.minBy { case ((p, q), c) => (-c, p, q) }
          words = words.map { syms =>
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == p && syms(i + 1) == q) {
                out += p + q; i += 2
              } else { out += syms(i); i += 1 }
            }
            out.toSeq
          }
          Seq((r, p, q, cnt))
        }
      }
    }
    val docs = docsOf(
      1L -> "the cat sat on the mat, the cat ran!",
      2L -> "a cat and a bat met the rat 42 times")
    val (merges, _, _) = ByteBpe.trainDeep(docs, rounds = 8)
    val dict = ByteBpe.byteDictCollect(docs).toSeq
    assert(merges === brute(dict, 8))
  }

  test("no-UNK: cross-corpus encode falls back to raw byte ids, never drops") {
    val train = docsOf(1L -> "hello world hello")
    // emoji (4 UTF-8 bytes, non-BMP) and CJK — neither pre-token in
    // the training dict; both must encode to their raw byte values
    val enc = docsOf(10L -> "hello 🙂 中")
    val out = ByteBpe.byteEncodeIdsWith(enc, train, rounds = 3)
      .collect()(0)
    val ids = out.getAs[scala.collection.Seq[Long]]("ids")
    assert(out.getAs[Long]("n_fallback") > 0L)
    // every pre-token yields >= 1 id; the full byte stream of the
    // fallback tokens is present verbatim
    val emojiBytes = " 🙂".getBytes("UTF-8").map(_ & 0xff).map(_.toLong)
    val cjkBytes = " 中".getBytes("UTF-8").map(_ & 0xff).map(_.toLong)
    assert(ids.containsSlice(emojiBytes.toSeq))
    assert(ids.containsSlice(cjkBytes.toSeq))
    assert(out.getAs[Long]("n_tokens") === 3L)
  }

  test("artifact roundtrip: the loaded-dict distributed id resolve equals the in-lineage driver ids") {
    import graft.ext.TokenizerArtifact
    val docs = docsOf(
      1L -> "the cat sat on the mat, the cat ran!",
      2L -> "a cat and a bat met the rat 42 times")
    val dir = tempDir("bytebpe_art").toString
    TokenizerArtifact.byteBpeWrite(docs, dir, rounds = 6)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Long]]("ids"),
          r.getAs[Long]("n_fallback"))).toSeq
    assert(canon(TokenizerArtifact.byteBpeEncodeIds(docs, dir))
      === canon(ByteBpe.byteEncodeIdsWith(docs, docs, rounds = 6)))
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator()
      .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
  }

  test("gate invariant: same-corpus encode has zero fallback, all ids in range") {
    val docs = docsOf(
      1L -> "spark scans parquet fast, very fast!",
      2L -> "spark shuffles when it must; 42 partitions")
    val rows = ByteBpe.byteEncodeIdsWith(docs, docs, rounds = 6).collect()
    assert(rows.map(_.getAs[Long]("n_fallback")).sum === 0L)
    val maxId = 255L + 6L
    rows.foreach { r =>
      val ids = r.getAs[scala.collection.Seq[Long]]("ids")
      assert(ids.nonEmpty)
      assert(ids.forall(i => i >= 0L && i <= maxId))
    }
  }
}
