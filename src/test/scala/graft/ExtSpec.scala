package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Dedup, Multimodal, Similarity}
import graft.functions.SimHash64
import graft.gen.OrderGen
import graft.sources.Tables

/** North-star extension operators: determinism, semantics, and the
  * approximation-quality properties the gate can't check.
  */
class ExtSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.local("graft-ext-test")
  val dir = "/root/testdata/sf0.001"

  test("GEN is deterministic and order_id is unique") {
    val a = OrderGen.orders(spark, 20000)
    assert(a.select("order_id").distinct().count() === 20000)
    // same seed -> identical rows
    assert(a.except(OrderGen.orders(spark, 20000)).count() === 0)
  }

  test("GEN field domains match the reference generator") {
    val stats = OrderGen.orders(spark, 50000)
      .agg(min("user_id"), max("user_id"), min("amount"), max("amount"),
        min("channel_id"), max("channel_id")).collect()(0)
    assert(stats.getLong(0) >= 1 && stats.getLong(1) <= 5000)
    assert(stats.getLong(2) >= 1 && stats.getLong(3) <= 10000)
    assert(stats.getLong(4) >= 0 && stats.getLong(5) <= 200)
  }

  test("GEN JSON wire round-trip preserves all fields") {
    val n = 1000L
    val direct = OrderGen.orders(spark, n)
    val roundTrip = OrderGen.decodeJson(OrderGen.ordersJson(spark, n))
      .drop("ts")
    assert(direct.except(roundTrip).count() === 0)
    assert(roundTrip.except(direct).count() === 0)
  }

  test("simhash64: identical token arrays get identical signatures; near texts are close") {
    import spark.implicits._
    val df = Seq(
      ("a b c d e f g h i j", "a b c d e f g h i j"),
      ("the quick brown fox jumps over the lazy dog", "the quick brown fox jumps over the lazy cat")
    ).toDF("t1", "t2")
      .select(
        SimHash64.simhash64(split(col("t1"), " ")).as("s1"),
        SimHash64.simhash64(split(col("t2"), " ")).as("s2"))
      .withColumn("ham", SimHash64.hamming64(col("s1"), col("s2")))
    val rows = df.collect()
    assert(rows(0).getAs[Int]("ham") === 0)
    assert(rows(1).getAs[Int]("ham") < 32) // near-dup = small distance
  }

  test("minhash LSH emits no false positives (independent jaccard recomputation)") {
    import graft.functions.NgramHash64
    val docs = Tables.documents(spark, dir)
    val lsh = Dedup.minhashPairs(docs, threshold = 0.5)
    assert(lsh.count() > 0)
    // recompute each emitted pair's true shingle jaccard independently
    val sh = docs.select(col("doc_id"),
      array_distinct(NgramHash64.ngram_hash64(
        Dedup.tokensNorm(col("text")), 3)).as("sh"))
    val checked = lsh
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("true_j",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
    assert(checked.filter(col("true_j") < 0.5).count() === 0,
      "LSH emitted a pair below the verify threshold")
    assert(checked.filter(abs(col("jaccard") - round(col("true_j"), 4)) > 1e-9).count() === 0,
      "operator-reported jaccard disagrees with recomputation")
  }

  test("minhash recall: posting-join truth equals brute-force truth; " +
      "identical docs are always recalled") {
    import spark.implicits._
    // 10 identical docs (all 45 pairs J=1 — identical signatures share
    // every band key, so banding can NEVER miss them) + 20 docs whose
    // pairwise overlap is one shared shingle (J ≈ 0.09 < 0.5)
    val docs = (1L to 30L).map(i =>
      (i, "s",
        if (i % 3 == 0) "alpha beta gamma delta epsilon zeta eta theta"
        else s"unique text number w$i x$i y$i z$i"))
      .toDF("doc_id", "source", "text")
    val r = graft.ext.Dedup.minhashRecall(docs).collect()(0)
    // independent brute-force truth over the same shingle space
    val sh = graft.ext.Dedup.minhashShingles(docs)
    val brute = sh.select(col("doc_id").as("da"), col("sh").as("sa"))
      .crossJoin(sh.select(col("doc_id").as("db"), col("sh").as("sb")))
      .filter(col("da") < col("db"))
      .filter(size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(array_union(col("sa"), col("sb"))).cast("double") >= 0.5)
      .count()
    assert(brute === 45L, "10 identical docs = 45 true pairs, no others")
    assert(r.getLong(0) === brute, "posting-join truth == brute-force truth")
    assert(r.getLong(1) === 45L, "identical-signature pairs are never missed")
    assert(r.getLong(2) === 100L)
    graft.ext.CorpusCache.releaseAll()
  }

  test("incremental minhash equals the cross-split subset of the closed-corpus run") {
    val docs = Tables.documents(spark, dir)
    val isNew = (id: Long) => id % 3 == 0
    val closed = Dedup.minhashPairs(docs, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // the cross pairs of the closed run, re-oriented (new, hist)
    val expect = closed.flatMap { case (a, b) =>
      if (isNew(a) && !isNew(b)) Some((a, b))
      else if (isNew(b) && !isNew(a)) Some((b, a))
      else None
    }.toSet
    assert(expect.nonEmpty, "fixture must produce cross-split near-dups")
    val incr = Dedup.minhashPairsAgainst(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0),
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incr === expect,
      "asymmetric band join must find exactly the closed run's cross pairs")
  }

  test("ANN-LSH results are genuine neighbors (subset check vs brute force)") {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteTopK(emb, qs, 50)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annLsh(emb, qs, 10)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(ann.nonEmpty, "ANN returned nothing — buckets too fine")
    // every ANN hit is a real vector pair; recall measured against top-50
    val recall = ann.count(brute.contains).toDouble / ann.length
    assert(recall > 0.5, s"ANN hits mostly outside brute top-50 (recall=$recall)")
  }

  test("PQ ANN: exact re-rank keeps hits genuine; recall@10 vs brute is solid") {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteTopK(emb, qs, 10)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.annPq(emb, qs, 10)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    assert(pq.length === 50, "each query must return a full top-10")
    // quantization error only affects CANDIDATE selection; the exact
    // re-rank means reported sims are true cosines, so recall is the
    // only approximation axis
    val recall = pq.count(brute.contains).toDouble / pq.length
    assert(recall >= 0.5, s"PQ recall@10 vs brute = $recall")
  }

  test("IVF ANN: top-1 recall vs brute force is high") {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteTopK(emb, qs, 10)
      .filter(col("rank") === 1)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.annIvf(emb, qs, 10)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // the true nearest neighbor should be found for most queries when
    // probing 4/16 clusters
    val hit = brute.count(ivf.contains)
    assert(hit >= 3, s"IVF missed too many true top-1 neighbors: $hit/5")
  }

  test("incremental IVF ingest: batch searches history only, with solid top-1 recall") {
    val emb = Tables.embeddings(spark, dir)
    val (hist, newBatch) = Similarity.ingestSplit(emb)
    val histIds = hist.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val batchIds = newBatch.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val inc = Similarity.ivfTopK(
      Similarity.ivfAssignments(hist, newBatch), k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    assert(inc.nonEmpty)
    // the ingest invariant: every query is a batch vector, every
    // neighbor an indexed history vector — a batch never pairs with itself
    assert(inc.forall { case (q, n) => batchIds(q) && histIds(n) },
      "incremental search must pair batch queries with history neighbors only")
    // frozen-centroid probe quality: most true (history-side) top-1
    // neighbors survive probing 4/16 clusters
    val brute = Similarity.bruteTopK(hist, newBatch, 1)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val found = inc.toSet
    val hits = brute.count(found.contains)
    assert(hits.toDouble / brute.size >= 0.6,
      s"incremental IVF found $hits/${brute.size} true top-1 neighbors")
  }

  test("multimodal feature extraction is deterministic and metadata prunes payload") {
    import spark.implicits._
    val media = Multimodal.mediaTable(spark, dir).as[Multimodal.MediaRow]
    val f1 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(f1.map(_.features.toSeq).toSeq === f2.map(_.features.toSeq).toSeq)
    assert(f1.forall(_.features.length === 8))
    // metadata-only query must not read the payload column
    val plan = Multimodal.mediaTable(spark, dir)
      .select("media_id", "format").queryExecution.executedPlan.toString
    assert(!plan.contains("payload") || plan.contains("ReadSchema"))
  }

  test("perceptual dhash: block-locality — a one-byte edit flips at most 2 bits") {
    val rnd = new scala.util.Random(7)
    (0 until 20).foreach { _ =>
      val payload = Array.fill(200 + rnd.nextInt(400))(rnd.nextInt(256).toByte)
      val h0 = Multimodal.FakePHash.dhash64(payload)
      val edited = payload.clone()
      val pos = rnd.nextInt(edited.length)
      edited(pos) = (edited(pos) ^ 0x5a).toByte
      val h1 = Multimodal.FakePHash.dhash64(edited)
      assert(java.lang.Long.bitCount(h0 ^ h1) <= 2,
        s"edit at $pos/${payload.length} flipped >2 bits")
    }
    // and deterministic
    val p = Array.fill(300)(rnd.nextInt(256).toByte)
    assert(Multimodal.FakePHash.dhash64(p) === Multimodal.FakePHash.dhash64(p))
  }

  test("media near-dup: every re-encoded variant pairs with its original; banding = brute force") {
    import spark.implicits._
    val fixture = Multimodal.nearDupFixture(spark, dir)
    val pairs = Multimodal.mediaNearDupPairs(fixture)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // each synthesized twin (id, id+1e6) must be found within Hamming 2
    val variantIds = fixture.collect().map(_.media_id).filter(_ >= 1000000L)
    assert(variantIds.nonEmpty)
    val found = pairs.map(p => (p._1, p._2)).toSet
    variantIds.foreach { v =>
      assert(found.contains((v - 1000000L, v)), s"variant pair for ${v - 1000000L} missed")
    }
    pairs.filter(p => p._2 - p._1 == 1000000L).foreach(p =>
      assert(p._3 <= 2, s"twin pair $p beyond the one-block radius"))
    // quarter-banding is exhaustive: equals the all-pairs derivation
    val sigs = Multimodal.perceptualHash(fixture).collect()
    val brute = (for {
      a <- sigs; b <- sigs if a.media_id < b.media_id
      h = java.lang.Long.bitCount(a.phash ^ b.phash) if h <= 3
    } yield (a.media_id, b.media_id, h)).toSet
    assert(pairs.toSet === brute)
  }

  test("classifier score: exact integer logits, verdict bites both ways, empty doc scores 0") {
    import spark.implicits._
    import graft.ext.TextAnalysis
    val docs = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"), (3L, ""))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.classifierScore(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    // hand-derivable: features = unigrams + bigrams, w(b) from the
    // hex-positional scramble — recompute locally and compare
    def bucket(f: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(f.getBytes("UTF-8")).map("%02x".format(_)).mkString
      d.substring(0, 3)
    }
    def w(b: String): Long = {
      val hex = "0123456789abcdef"
      val v = (hex.indexOf(b(0)) * 256 + hex.indexOf(b(1)) * 16 +
        hex.indexOf(b(2))).toLong
      java.lang.Math.floorMod(v * 2654435761L, 2001L) - 1000L
    }
    def score(toks: Seq[String]): (Long, Long) = {
      val feats = toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" "))
      (feats.map(f => w(bucket(f))).sum, feats.size.toLong)
    }
    val (l1, n1) = score(Seq("alpha", "beta", "gamma"))
    val (l2, n2) = score(Seq("delta", "epsilon"))
    assert(rows(1L) === ((l1, n1, if (l1 >= 0) 1 else 0)))
    assert(rows(2L) === ((l2, n2, if (l2 >= 0) 1 else 0)))
    // empty text tokenizes to [""] in both engines (the shared
    // tokens() semantic): one unigram feature, no bigrams
    val (l3, n3) = score(Seq(""))
    assert(rows(3L) === ((l3, n3, if (l3 >= 0) 1 else 0)))
    // the stub weights must produce BOTH verdicts on the fixture
    val fx = TextAnalysis.classifierScore(Tables.documents(spark, dir))
      .select("quality_pass").distinct().collect().map(_.getInt(0)).toSet
    assert(fx === Set(0, 1), "threshold must bite both ways on the fixture")
  }

  test("trained NB classifier separates its target cohort; OOV features score zero") {
    import spark.implicits._
    import graft.ext.TextAnalysis
    val docs = Tables.documents(spark, dir)
    val scored = TextAnalysis.classifierScoreWith(docs,
        TextAnalysis.classifierTrain(docs, col("lang") === "en"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("lang") === "en", col("logit_nano"))
      .collect().map(r => (r.getBoolean(0), r.getLong(1)))
    val enMean = scored.filter(_._1).map(_._2).sum / scored.count(_._1)
    val otherMean = scored.filterNot(_._1).map(_._2).sum / scored.count(!_._1)
    assert(enMean > otherMean,
      s"model trained on en must rank en higher: $enMean vs $otherMean")
    // a model applied to fully-unseen vocabulary scores 0 everywhere
    val tiny = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    val unseen = Seq((9L, "zq xv wk")).toDF("doc_id", "text")
    val w = TextAnalysis.classifierTrain(tiny, lit(true))
    val r = TextAnalysis.classifierScoreWith(unseen, w).head()
    assert(r.getLong(1) === 0L && r.getLong(2) === 5L && r.getInt(3) === 1)
  }

  test("url canonicalization: every messiness variant of one page collapses to one canon") {
    import spark.implicits._
    import graft.ext.Curation
    val variants = Seq(
      "https://www.Example.com:443/p/7?utm_source=feed",
      "HTTPS://example.com/p/7/?gclid=xyz#frag",
      "https://EXAMPLE.com:443/p/7/",
      "https://www.example.com/p/7?fbclid=a1&utm_campaign=x")
      .toDF("url")
      .select(Curation.canonicalizeUrl(col("url")).as("canon"))
      .collect().map(_.getString(0)).toSet
    assert(variants === Set("https://example.com/p/7"))
    // mid-URL tracking param heals the separator for its successor
    val kept = Seq("http://a.io/x?utm_source=s&id=3&utm_medium=m")
      .toDF("url")
      .select(Curation.canonicalizeUrl(col("url")).as("canon"))
      .head().getString(0)
    assert(kept === "http://a.io/x?id=3")
    // domain extraction ignores path, port, and query
    val dom = Seq("https://sub.site.org/deep/path?id=1").toDF("url")
      .select(Curation.urlDomain(Curation.canonicalizeUrl(col("url"))).as("d"))
      .head().getString(0)
    assert(dom === "sub.site.org")
  }

  test("url decontam: flags exactly the non-eval docs sharing an eval canon URL") {
    import graft.ext.Curation
    val docs = Tables.documents(spark, dir)
    val flagged = Curation.urlDecontam(docs).collect()
    assert(flagged.nonEmpty)
    // no eval-registry doc is ever its own contamination hit
    assert(flagged.forall(_.getLong(0) % Curation.EvalUrlMod != 0))
    // recompute the truth from the canon table directly
    val canon = docs.select(col("doc_id"),
        Curation.canonicalizeUrl(Curation.syntheticUrl).as("cu"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val evalHits = canon.filter(_._1 % Curation.EvalUrlMod == 0)
      .groupBy(_._2).map { case (u, xs) => u -> xs.length.toLong }
    val expect = canon.filter(_._1 % Curation.EvalUrlMod != 0)
      .collect { case (id, u) if evalHits.contains(u) => (id, u, evalHits(u)) }
      .sortBy(_._1)
    assert(flagged.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq === expect.toSeq)
  }

  test("decontam report: one row per doc, holdout NULLs per modality, verdict consistent") {
    import graft.ext.{CorpusPrep, Curation, Similarity}
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val rep = Curation.decontamReport(docs, emb).collect()
    assert(rep.length === docs.count())
    rep.foreach { r =>
      val id = r.getLong(0)
      // a modality's own holdout is never screened → NULL, else ≥ 0
      assert(r.isNullAt(1) === (id % CorpusPrep.EvalMod == 0))
      assert(r.isNullAt(2) === (id % Similarity.DecontamEvalMod == 0))
      assert(r.isNullAt(3) === (id % Curation.EvalUrlMod == 0))
      val any = (!r.isNullAt(1) && r.getLong(1) > 0) ||
        (!r.isNullAt(2) && r.getInt(2) == 1) ||
        (!r.isNullAt(3) && r.getLong(3) > 0)
      assert(r.getInt(4) === (if (any) 1 else 0))
    }
    // the URL column is exactly the urlDecontam flag set
    val urlTruth = Curation.urlDecontam(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    rep.filter(r => !r.isNullAt(3)).foreach { r =>
      assert(r.getLong(3) === urlTruth.getOrElse(r.getLong(0), 0L))
    }
    // all three modalities flag something on the fixture (report is
    // non-degenerate in every column)
    assert(rep.exists(r => !r.isNullAt(1) && r.getLong(1) > 0))
    assert(rep.exists(r => !r.isNullAt(2) && r.getInt(2) == 1))
    assert(rep.exists(r => !r.isNullAt(3) && r.getLong(3) > 0))
  }

  test("domain filter over canon domains: one site's URL variants aggregate as one domain") {
    import graft.ext.Curation
    val docs = Tables.documents(spark, dir)
    val rows = Curation.domainFilterCanon(docs).collect()
    // every domain is a single canonical host: lowercase, no www, no port
    val domains = rows.map(_.getString(1)).distinct
    assert(domains.nonEmpty)
    assert(domains.forall(d => d == d.toLowerCase && !d.startsWith("www.")
      && !d.contains(":") && d.endsWith(".example.com")))
    // same verdict structure as the raw-source filter: the canon
    // re-keying maps source 'srcN' -> 'srcN.example.com' 1:1 on this
    // fixture, so the kept doc set must match exactly
    val raw = Curation.domainFilter(docs).collect()
    assert(rows.map(_.getLong(0)).toSet === raw.map(_.getLong(0)).toSet)
  }

  test("MAD outliers: per-type stats equal a driver-side recompute") {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    def medianOf(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    def r2(x: Double): Double =
      BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = graft.queries.ExtraQueries.anomalyMad(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val xs = ev.collect { case (t, v) if t == r.getString(0) => v }.toSeq
      val med = medianOf(xs)
      val mad = medianOf(xs.map(x => math.abs(x - med)))
      assert(r.getLong(1) === xs.length.toLong)
      assert(r.getDouble(2) === r2(med))
      assert(r.getDouble(3) === r2(mad))
      assert(r.getLong(4) ===
        xs.count(x => math.abs(x - med) > 4.4478 * mad).toLong)
    }
  }

  test("exact dedup over NFC: decomposed rendering collapses with its precomposed twin") {
    import spark.implicits._
    import graft.ext.Dedup
    import graft.functions.NfcNormalize.nfc_normalize
    val docs = Seq((1L, "café au lait"), (2L, "cafe\u0301 au lait"))
      .toDF("doc_id", "text")
    // byte-different renderings: plain exact sees two distinct texts
    assert(Dedup.exact(docs).count() === 2L)
    val viaNfc = Dedup.exact(docs.withColumn("text",
        nfc_normalize(col("text")))).collect()
    assert(viaNfc.length === 1)
    assert(viaNfc(0).getLong(1) === 1L && viaNfc(0).getLong(2) === 2L)
  }

  test("NFKC: known compatibility answers, idempotence, NFC⊂NFKC, and dedup collapse of presentation variants") {
    import spark.implicits._
    import graft.ext.Dedup
    import graft.functions.NfkcNormalize.{nfkc_normalize, nfkd_normalize}
    // published Unicode data points: ligatures, full-width forms,
    // squared units, circled digits, plus a canonical (NFC) case —
    // NFKC must cover BOTH decomposition classes
    val known = Seq(
      "ﬁscal" -> "fiscal",          // U+FB01 LATIN SMALL LIGATURE FI
      "ﬀ" -> "ff",                  // U+FB00
      "２３ab" -> "23ab",           // full-width digits
      "ｶﾞ" -> "ガ",                 // half-width katakana + voicing mark
      "㎞" -> "km",                 // U+339E SQUARE KM
      "①" -> "1",                   // U+2460 CIRCLED DIGIT ONE
      "café" -> "café",       // canonical composition still runs
      "plain ascii 42" -> "plain ascii 42")
    val got = known.map(_._1).toDF("s")
      .select(nfkc_normalize(col("s"))).collect().map(_.getString(0))
    assert(got.toSeq === known.map(_._2))
    // idempotence + the oracle identity NFKC = NFC(concat(NFKD(cp)))
    val comps = known.map(_._1).toDF("s").select(
      nfkc_normalize(nfkc_normalize(col("s"))) ===
        nfkc_normalize(col("s")),
      nfkc_normalize(col("s")) ===
        graft.functions.NfcNormalize.nfc_normalize(nfkd_normalize(col("s"))))
      .collect()
    assert(comps.forall(r => r.getBoolean(0) && r.getBoolean(1)))
    // the gate's semantics: presentation variants of one string become
    // ONE document under NFKC-dedup, while plain exact sees them apart
    val docs = Seq((1L, "ﬁle ２３"), (2L, "file 23"), (3L, "other"))
      .toDF("doc_id", "text")
    assert(Dedup.exact(docs).count() === 3L)
    val viaNfkc = Dedup.exact(docs.withColumn("text",
        nfkc_normalize(col("text")))).orderBy(col("keep_doc_id")).collect()
    assert(viaNfkc.length === 2)
    assert(viaNfkc(0).getLong(1) === 1L && viaNfkc(0).getLong(2) === 2L)
  }

  test("matryoshka recall: one row per (dim, query), hits bounded, wider is better on average") {
    import graft.ext.Similarity
    val emb = Tables.embeddings(spark, dir)
    val rows = Similarity.matryoshkaRecall(emb).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length ===
      Similarity.MatryoshkaDims.length * Similarity.GateQueryCut)
    rows.foreach { case (_, _, nHit, rec) =>
      assert(nHit >= 0L && nHit <= Similarity.GateK)
      assert(rec === nHit * 100 / Similarity.GateK)
    }
    val mean = rows.groupBy(_._1).view
      .mapValues(rs => rs.map(_._3).sum.toDouble / rs.length).toMap
    assert(mean(32) >= mean(4))
    // full-width truncation is the identity: a 64-dim slice of a
    // 64-dim vector reproduces the truth exactly
    val full = Similarity.matryoshkaRecall(emb, dims = Seq(64)).collect()
    assert(full.forall(_.getLong(2) === Similarity.GateK.toLong))
  }

  test("k-anonymity: exactly the sub-k QI classes, sizes exact") {
    import spark.implicits._
    import graft.ext.DataQuality
    val t = Seq((1, "a"), (1, "a"), (1, "a"), (1, "b"), (2, "a"), (2, "a"))
      .toDF("q1", "q2")
    val risk = DataQuality.kAnonymityRisk(t, Seq("q1", "q2"), k = 3L)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    // (1,a) has 3 members (>= k, safe); (1,b)=1 and (2,a)=2 are at risk
    assert(risk.toSeq === Seq((1, "b", 1L), (2, "a", 2L)))
    // fixture: every reported class is genuinely below k, and the
    // safe+risk class partition covers all rows
    val cust = Tables.customer(spark, dir)
    val rows = DataQuality.kAnonymityRisk(cust,
      Seq("c_nationkey", "c_mktsegment"), k = 25L).collect()
    assert(rows.forall(_.getLong(2) < 25L))
    val atRisk = rows.map(_.getLong(2)).sum
    val safe = cust.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .count().filter(col("count") >= 25L)
      .agg(coalesce(sum(col("count")), lit(0L))).collect()(0).getLong(0)
    assert(atRisk + safe === cust.count())
  }

  test("data quality: clean + quarantine partition the input; report is consistent") {
    import graft.ext.DataQuality
    val ev = Tables.events(spark, dir)
    val rules = DataQuality.eventRules
    val nClean = DataQuality.clean(ev, rules).count()
    val nQuar = DataQuality.quarantine(ev, rules).count()
    assert(nClean + nQuar === ev.count())
    val rep = DataQuality.report(ev, rules).collect()(0)
    assert(rep.getAs[Long]("total_rows") === ev.count())
    assert(rep.getAs[Long]("valid_rows") === nClean)
    // quarantined rows carry at least one named violation
    val unnamed = DataQuality.quarantine(ev, rules)
      .filter(length(col("violations")) === 0).count()
    assert(unnamed === 0)
  }

  test("cosine near-dup via IVF candidates equals the brute-force join exactly (recall 1.0)") {
    val emb = Tables.embeddings(spark, dir)
    val brute = Similarity.thresholdJoin(emb, 0.4)
      .orderBy("id_a", "id_b").collect().toSeq
    val ivf = Similarity.cosineNearDupPairs(emb, 0.4)
      .orderBy("id_a", "id_b").collect().toSeq
    // triangle-inequality cluster-pair pruning guarantees recall 1.0;
    // the exact vec_dot verify guarantees precision 1.0 — so the two
    // result sets must be IDENTICAL, row for row, sim for sim
    assert(ivf === brute)
    assert(ivf.nonEmpty)
  }

  test("minhash LSH recall >= 0.9 vs exact trigram jaccard at matched threshold") {
    val docs = Tables.documents(spark, dir)
    val t = 0.5
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: the exact measure MinHash approximates, corpus-wide
    // (drop the source blocking so truth covers every pair LSH may emit)
    val truth = pairSet(Dedup.ngramJaccardPairs(
      docs.withColumn("source", lit("all")), threshold = t))
    val lsh = pairSet(Dedup.minhashPairs(docs, threshold = t))
    assert(truth.nonEmpty, "no ground-truth pairs at this threshold")
    val recall = truth.count(lsh.contains).toDouble / truth.size
    assert(recall >= 0.9, s"minhash recall $recall < 0.9 (truth=${truth.size})")
  }

  test("sub-blocked jaccard equals the single-block form exactly") {
    val docs = Tables.documents(spark, dir)
    // targetSubBlock > any block size -> s = 1 -> the unguarded plan
    val single = Dedup.jaccardPairsBySource(docs, 0.6, targetSubBlock = Int.MaxValue)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val sub = Dedup.jaccardPairsBySource(docs, 0.6, targetSubBlock = 16)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(sub === single)
    assert(sub.nonEmpty)
  }

  test("dedup/similarity operators tolerate empty inputs") {
    import spark.implicits._
    val noDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
    val noVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Dedup.exact(noDocs).count() === 0)
    assert(Dedup.jaccardPairsBySource(noDocs, 0.6).count() === 0)
    assert(Dedup.ngramJaccardPairs(noDocs, 0.1).count() === 0)
    assert(Dedup.minhashPairs(noDocs).count() === 0)
    // asymmetric incremental: empty on either side is an empty result,
    // not an error
    val someDocs = Seq((1L, "s0", "alpha beta gamma delta"))
      .toDF("doc_id", "source", "text")
    assert(Dedup.minhashPairsAgainst(noDocs, someDocs).count() === 0)
    assert(Dedup.minhashPairsAgainst(someDocs, noDocs).count() === 0)
    assert(Similarity.thresholdJoin(noVecs, 0.4).count() === 0)
    assert(Similarity.cosineNearDupPairs(noVecs, 0.4).count() === 0)
    // capped co-activity on an empty activity frame
    val noAct = Seq.empty[(java.sql.Timestamp, Long)].toDF("m", "user_id")
    assert(graft.ext.GraphOps.coActivityEdgesCappedOf(noAct, 4).count() === 0)
    // the round-4 sampling/cleaning/layout additions
    val noLang = Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text")
    assert(graft.ext.Sampling.temperatureMix(noLang).count() === 0)
    assert(graft.ext.Cleaning.lineDedup(noLang).count() === 0)
    val noFiles = Seq.empty[(String, Long)].toDF("file_id", "bytes")
    assert(graft.ext.Layout.compactionPlan(
      noFiles, "file_id", "bytes", 10L).count() === 0)
  }

  test("vec_dot fails loudly on mismatched vector dimensions") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(graft.functions.VecDot.vec_dot(col("a"), col("b"))).collect()
    }
    // corrupt/mixed-dim embeddings must error (as the oracle's
    // list_cosine_similarity does), not return a truncated similarity
    assert(e.getMessage != null)
    val ok = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
      .select(graft.functions.VecDot.vec_dot(col("a"), col("b"))).collect()
    assert(ok(0).getDouble(0) === 11.0)
  }

  test("exact dedup groups sum to the corpus size") {
    val docs = Tables.documents(spark, dir)
    val total = Dedup.exact(docs).agg(sum("dup_count")).collect()(0).getLong(0)
    assert(total === docs.count())
  }

  test("connected components: transitive chains collapse, separate clusters stay apart") {
    import spark.implicits._
    // chain 10-20-30-40 (A~B, B~C, C~D but never A~D), pair {100,200},
    // and an isolated pair referencing a high id as the smaller side
    val pairs = Seq((10L, 20L), (20L, 30L), (30L, 40L),
      (100L, 200L), (999L, 1000L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 10L,
      100L -> 100L, 200L -> 100L, 999L -> 999L, 1000L -> 999L))
  }

  test("connected components: a 2000-hop chain converges (pointer jumping, O(log d) rounds)") {
    import spark.implicits._
    // worst case for plain neighbor-min propagation (would need 2000
    // rounds and silently truncate at maxIters); pointer jumping must
    // collapse it within the 30-round cap — and to the right labels
    val n = 2000L
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // localMaxEdges = 0 forces the distributed log-round loop — the
    // thing this test exists to exercise (the adaptive default would
    // route a 2000-edge graph to the single-task union-find path)
    val cc = Dedup.connectedComponents(chain, "doc_a", "doc_b",
        localMaxEdges = 0L)
      .agg(countDistinct(col("component")).as("c"),
        count(lit(1)).as("n"), max(col("component")).as("m"))
      .collect()(0)
    assert((cc.getLong(0), cc.getLong(1), cc.getLong(2)) === ((1L, n, 0L)),
      "all chain nodes must collapse to component 0")
  }

  test("connected components: single-task union-find ≡ distributed loop on random graphs") {
    import spark.implicits._
    // the adaptive fast path must be indistinguishable from the
    // pointer-jumping loop on anything: random multigraphs with
    // self-loops, duplicate edges, reversed duplicates, and ids far
    // above the node count (hash-like)
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val ids = Array.fill(60)(rnd.nextLong().abs % 1000000L)
      val edges = (0 until 150).map { _ =>
        (ids(rnd.nextInt(ids.length)), ids(rnd.nextInt(ids.length)))
      }.toDF("doc_a", "doc_b")
      val fast = Dedup.connectedComponents(edges, "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val loop = Dedup.connectedComponents(edges, "doc_a", "doc_b",
          localMaxEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast === loop, s"trial $trial diverged")
    }
  }

  test("hash sampling: deterministic, partition-invariant, monotone in rate, unbiased") {
    import graft.ext.Sampling
    val df = spark.range(100000L).toDF("doc_id")
    val a = Sampling.hashSample(df, "doc_id", 0.25)
    // partitioning must not change membership (the 100 TB reproducibility claim)
    val b = Sampling.hashSample(df.repartition(17), "doc_id", 0.25)
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
    // nested rates: same seed ⇒ sample(0.1) ⊆ sample(0.3)
    val s01 = Sampling.hashSample(df, "doc_id", 0.1)
    assert(s01.exceptAll(Sampling.hashSample(df, "doc_id", 0.3)).count() === 0)
    // realized rate within 4σ of Bernoulli expectation
    val n = a.count().toDouble
    assert(math.abs(n / 100000.0 - 0.25) < 4 * math.sqrt(0.25 * 0.75 / 100000.0))
  }

  test("corpus mixing realizes target source proportions (downsample-only)") {
    import graft.ext.Sampling
    // skewed corpus: 70k/20k/10k docs; weights 1/1/2 ⇒ T = min(n/w) =
    // 10k/2 = 5k ⇒ expected kept = w·T = 5k/5k/10k... except c is
    // capped at its own 10k (keep=1.0): expected 5k/5k/10k
    val df = spark.range(100000L).toDF("doc_id")
      .withColumn("source",
        when(col("doc_id") % 10 < 7, "a")
          .when(col("doc_id") % 10 < 9, "b").otherwise("c"))
    val kept = Sampling.mixCorpus(df, Seq("a" -> 1.0, "b" -> 1.0, "c" -> 2.0))
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(kept("a") - 5000.0) < 300, s"a: ${kept("a")}")
    assert(math.abs(kept("b") - 5000.0) < 300, s"b: ${kept("b")}")
    assert(kept("c") === 10000L, "the binding source is kept whole")
  }

  test("temperature mix: smallest group whole, larger groups at (nmin/n)^(1-a), a=1 is identity") {
    import graft.ext.Sampling
    // 64k/16k/4k docs in groups a/b/c: at α=0.5 expected rates are
    // sqrt(4k/64k)=0.25, sqrt(4k/16k)=0.5, 1.0
    val df = spark.range(84000L).toDF("doc_id")
      .withColumn("lang",
        when(col("doc_id") < 64000L, "a")
          .when(col("doc_id") < 80000L, "b").otherwise("c"))
    val kept = Sampling.temperatureMix(df)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("c") === 4000L, "smallest group is kept whole")
    assert(math.abs(kept("a") - 16000.0) < 4 * math.sqrt(64000.0 * 0.25 * 0.75),
      s"a: ${kept("a")}")
    assert(math.abs(kept("b") - 8000.0) < 4 * math.sqrt(16000.0 * 0.5 * 0.5),
      s"b: ${kept("b")}")
    // kept sets nest: α=0.5 selection ⊆ the α=1 (natural, keep-all) corpus
    assert(Sampling.temperatureMix(df, alpha = 1.0).count() === 84000L)
    assert(Sampling.temperatureMix(df).select("doc_id", "lang")
      .exceptAll(df.select("doc_id", "lang")).count() === 0)
  }

  test("compaction plan: contiguous cumsum bins, oversized file owns its span") {
    import graft.ext.Layout
    import spark.implicits._
    val files = Seq(("f1", 4L), ("f2", 4L), ("f3", 4L),
      ("f4", 25L), ("f5", 4L)).toDF("file_id", "bytes")
    val plan = Layout.compactionPlan(files, "file_id", "bytes", 10L)
      .orderBy("file_id")
      .collect().map(r => r.getAs[String]("file_id") -> r.getAs[Long]("bin"))
    // cum_before: 0,4,8,12,37 → bins 0,0,0,1,3 (bin 2 consumed by f4)
    assert(plan.toSeq === Seq("f1" -> 0L, "f2" -> 0L, "f3" -> 0L,
      "f4" -> 1L, "f5" -> 3L))
    // every bin's contiguous span: files in a bin are adjacent in order
    val bins = plan.map(_._2)
    assert(bins.toSeq === bins.sorted.toSeq)
  }

  test("shuffle order: a seed-keyed permutation; segmented path equals the plain window") {
    import graft.ext.Sampling
    val df = spark.range(20000L).toDF("doc_id")
    val plain = Sampling.shuffleOrder(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // positions are exactly 1..N (a permutation)
    assert(plain.values.toSeq.sorted === (1L to 20000L))
    // localMax = 0 forces the 256-segment decomposition — identical order
    val seg = Sampling.shuffleOrder(df, localMax = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(seg === plain)
    // a different seed is a different epoch's permutation
    val other = Sampling.shuffleOrder(df, seed = 8L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(other !== plain)
    assert(other.values.toSeq.sorted === (1L to 20000L))
    // partitioning must not change the assigned order
    val repart = Sampling.shuffleOrder(df.repartition(17))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(repart === plain)
  }

  test("token-budget mixing: two-level prefix sum equals the naive window cumsum") {
    import graft.ext.{Sampling, TextAnalysis}
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    def keySet(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    // the naive single-window form over the same md5 order is the
    // test oracle for the segmented decomposition
    def naive(budget: Long): Set[Long] = {
      val w = Window.partitionBy(col("source"))
        .orderBy(substring(md5(col("doc_id").cast("string")), 1, 13),
          col("doc_id"))
      keySet(docs
        .withColumn("n_tok", size(TextAnalysis.tokens(col("text"))).cast("long"))
        .withColumn("cb", sum(col("n_tok")).over(w) - col("n_tok"))
        .filter(col("cb") < budget))
    }
    for (budget <- Seq(1L, 120L, 400L)) {
      // localMaxSource = 0 forces the segmented path; the default
      // takes the plain window here (fixture sources are tiny) —
      // BOTH must equal the naive reference
      val seg = keySet(Sampling.tokenBudgetPerSource(docs, budget,
        localMaxSource = 0L))
      assert(seg === naive(budget), s"segmented, budget=$budget")
      val plain = keySet(Sampling.tokenBudgetPerSource(docs, budget))
      assert(plain === naive(budget), s"plain, budget=$budget")
    }
    // budget monotone: smaller budget keeps a subset
    val small = keySet(Sampling.tokenBudgetPerSource(docs, 120L))
    val large = keySet(Sampling.tokenBudgetPerSource(docs, 400L))
    assert(small.subsetOf(large))
    // budget=1 keeps exactly one doc per non-empty source (crossing
    // doc included by contract)
    val one = Sampling.tokenBudgetPerSource(docs, 1L)
      .groupBy("source").count().collect()
    assert(one.nonEmpty && one.forall(_.getLong(1) === 1L))
  }

  test("curation pipeline: quality gate, exact dedup, near-dup components, representative pick") {
    import spark.implicits._
    import graft.ext.Curation
    // s1: docs 1,2 exact dups; doc 3 near-dup of 1 (unigram jaccard
    // 3/5 = 0.6, exactly at threshold); doc 4 distinct.
    // s2: two dissimilar docs. qualityMin=0 disables the quality gate
    // so the dedup stages are isolated.
    val docs = Seq(
      (1L, "s1", "alpha beta gamma delta"),
      (2L, "s1", "alpha beta gamma delta"),
      (3L, "s1", "alpha beta gamma epsilon"),
      (4L, "s1", "zeta eta theta iota"),
      (5L, "s2", "one two three"),
      (6L, "s2", "four five six")
    ).toDF("doc_id", "source", "text")
    val out = Curation.curate(docs, qualityMin = 0L, jaccardThreshold = 0.6)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq(("s1", 2L, 1L), ("s2", 2L, 5L)),
      "exact dup 2 and near-dup 3 drop; representatives are min ids")
  }

  test("domain filter: verdicts are all-or-nothing per source and match " +
      "the exact integer mean") {
    import graft.ext.{Curation, TextAnalysis}
    val docs = Tables.documents(spark, dir)
    val out = Curation.domainFilter(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // independent verdict derivation: per-source sums/counts collected
    // and divided in BigInt on the driver — no Spark `div` in the loop
    val per = docs.select(col("doc_id"), col("source"))
      .join(TextAnalysis.qualityScore(docs), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("quality_x10k")).as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val keptSources = per.collect { case (src, (n, s))
      if n >= Curation.DefaultDomainMinDocs &&
        (BigInt(s) / BigInt(n)) >= Curation.DefaultDomainMeanMin => src }.toSet
    val nDocsBySource = docs.groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // all-or-nothing: every doc of a kept source appears, none of a
    // dropped source does
    val outBySource = out.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    assert(outBySource.keySet === keptSources)
    for (src <- keptSources)
      assert(outBySource(src) === nDocsBySource(src),
        s"every doc of kept source $src must survive")
    for ((_, src, n, m) <- out) {
      val (en, es) = per(src)
      assert(n === en && m === (BigInt(es) / BigInt(en)).toLong)
    }
    assert(keptSources.nonEmpty && keptSources.size < per.size,
      "gate signal: some sources kept, some dropped")
  }

  test("domain filter knobs: vacuous bars keep everything, an impossible " +
      "census keeps nothing") {
    import graft.ext.Curation
    val docs = Tables.documents(spark, dir)
    assert(Curation.domainFilter(docs, meanMin = 0L, minDocs = 1L).count()
      === docs.count())
    assert(Curation.domainFilter(docs, minDocs = Long.MaxValue).count() === 0L)
  }

  test("curation invariants on the real corpus: counts bounded by each stage's survivors") {
    import graft.ext.{Curation, TextAnalysis}
    val docs = Tables.documents(spark, dir)
    val curated = Curation.curate(docs)
      .agg(sum(col("n_curated"))).collect()(0).getLong(0)
    val qualityPass = TextAnalysis.qualityScore(docs)
      .filter(col("quality_x10k") >= 5000).count()
    val distinctTexts = docs.select("text").distinct().count()
    assert(curated > 0, "pipeline must keep a non-trivial corpus")
    assert(curated <= qualityPass, "can't keep more than pass the quality gate")
    assert(curated <= distinctTexts, "exact dedup bound")
  }

  test("pipeline pack: every stage's filter provably applied; pack invariants hold") {
    import graft.ext.{Curation, Dedup, Packing, Sampling, TextAnalysis}
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val spans = Curation.pipelinePack(docs, emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(spans.nonEmpty, "the composed funnel must keep a corpus")
    // pack invariants: full sequences sum to the budget; every doc's
    // spans cover exactly [0, n) once
    val bySeq = spans.groupBy(_._1)
    val lastSeq = bySeq.keys.max
    bySeq.foreach { case (sid, ss) =>
      val tot = ss.map(_._5).sum
      if (sid != lastSeq) assert(tot === Packing.SeqBudget, s"seq $sid")
      else assert(tot <= Packing.SeqBudget)
    }
    spans.groupBy(_._2).foreach { case (docId, ss) =>
      val sorted = ss.sortBy(_._4)
      assert(sorted.head._4 === 0L, s"doc $docId must start at offset 0")
      sorted.sliding(2).filter(_.length == 2).foreach { w =>
        assert(w(0)._4 + w(0)._5 === w(1)._4,
          s"doc $docId spans must be contiguous")
      }
    }
    // stage membership: every packed doc survived EVERY stage
    val packedIds = spans.map(_._2).toSet
    val domOk = Curation.domainFilterCanon(docs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val qualOk = TextAnalysis.qualityScore(docs)
      .filter(col("quality_x10k") >= Curation.DefaultQualityMin)
      .collect().map(_.getLong(0)).toSet
    val contaminated = Curation.decontamReport(docs, emb)
      .filter(col("contaminated") === 1)
      .collect().map(_.getLong(0)).toSet
    assert(packedIds.subsetOf(domOk), "domain filter not applied")
    assert(packedIds.subsetOf(qualOk), "quality floor not applied")
    assert(packedIds.intersect(contaminated).isEmpty,
      "decontam not applied")
    // the funnel binds: each stage (incl. the budget) drops someone
    assert(packedIds.size < (domOk.intersect(qualOk) -- contaminated).size,
      "the dedup/budget stages dropped nobody - fixture degenerate")
  }

  test("pipeline pack: a failing dedup chain cancels the running decontam arm") {
    import graft.ext.Curation
    import org.apache.spark.JobExecutionStatus
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val holdNanos = 30L * 1000000000L
    ExtSpec.armStarted = new java.util.concurrent.CountDownLatch(1)
    ExtSpec.holdUntil = System.nanoTime() + holdNanos
    ExtSpec.holdEnd.set(null)
    // only the decontam arm reads embeddings: its first task holds
    // until it is killed or the hold runs out, and says which
    val holdArm = udf { (id: Long) =>
      ExtSpec.armStarted.countDown()
      val ctx = org.apache.spark.TaskContext.get()
      try while (!ctx.isInterrupted() && System.nanoTime() < ExtSpec.holdUntil)
        Thread.sleep(20)
      catch { case _: InterruptedException => } // a kill may interrupt
      ExtSpec.holdEnd.compareAndSet(null,
        if (ctx.isInterrupted()) "killed" else "ran out")
      id
    }
    // only the dedup chain materializes every documents column (its
    // cached exact-dedup frame): the probe column fails there, once
    // the arm is running
    val failChain = udf { (id: Long) =>
      ExtSpec.armStarted.await(60, java.util.concurrent.TimeUnit.SECONDS)
      ExtSpec.injectedFailure(id)
    }
    val docs = Tables.documents(spark, dir)
      .withColumn("chain_probe", failChain(col("doc_id")))
    val emb = Tables.embeddings(spark, dir)
      .withColumn("vec_id", holdArm(col("vec_id")))
    val err = intercept[Exception](Curation.pipelinePack(docs, emb))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains(ExtSpec.Injected)),
      s"not the injected failure: $err")
    assert(ExtSpec.armStarted.getCount === 0, "the decontam arm never ran a task")
    // the dedup chain failed while the arm was still running, and the
    // arm's task was killed rather than left to finish
    val holdDeadline = ExtSpec.holdUntil + 10L * 1000000000L
    while (ExtSpec.holdEnd.get == null && System.nanoTime() < holdDeadline)
      Thread.sleep(10)
    assert(ExtSpec.holdEnd.get === "killed")
    // the status store hears of job ends through the listener bus, in
    // order: once a later marker job reads as finished, so does every
    // job that had ended when the exception reached us
    sc.setJobGroup("graft-test-pack-marker", "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val tracker = sc.statusTracker
    def markerDone = tracker.getJobIdsForGroup("graft-test-pack-marker")
      .exists(tracker.getJobInfo(_).exists(_.status == JobExecutionStatus.SUCCEEDED))
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!markerDone && System.nanoTime() < deadline) Thread.sleep(10)
    assert(markerDone, "the status store never saw the marker job")
    assert(tracker.getActiveJobIds.isEmpty,
      s"jobs still running: ${tracker.getActiveJobIds.toSeq}")
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.getName == "graft-decontam-arm" && t.isAlive),
      "the decontam arm thread outlived the failure")
  }

  test("layout upsert overwrites only the touched partition, byte-identical elsewhere") {
    import graft.ext.Layout
    val docs = Tables.documents(spark, dir)
    val tmp = tempDir("graft_upsert").toString
    Layout.writePartitioned(docs, tmp, Seq("lang"), Seq("source", "doc_id"))
    def filesOf(lang: String) =
      new java.io.File(s"$tmp/lang=$lang").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val langs = new java.io.File(tmp).listFiles().filter(_.isDirectory)
      .map(_.getName.stripPrefix("lang=")).sorted
    assert(langs.length > 1)
    val (touched, untouched) = (langs.head, langs.tail)
    val before = untouched.map(l => l -> filesOf(l)).toMap

    // refresh ONE language partition with re-derived (changed) rows
    val updates = docs.filter(col("lang") === touched)
      .withColumn("text", upper(col("text")))
    Layout.upsertPartitions(updates, tmp, Seq("lang"), Seq("source", "doc_id"))

    untouched.foreach { l =>
      assert(filesOf(l) === before(l), s"partition lang=$l must be untouched")
    }
    val readBack = spark.read.parquet(tmp)
    assert(readBack.count() === docs.count(), "row count preserved")
    assert(readBack.filter(col("lang") === touched)
      .filter(col("text") =!= upper(col("text"))).count() === 0,
      "touched partition must carry the refreshed rows")
  }

  test("layout upsert runs dynamic overwrite as a per-write option; the session conf stays put") {
    import graft.ext.Layout
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val key = "spark.sql.sources.partitionOverwriteMode"
    val docs = Tables.documents(spark, dir)
    val tmp = tempDir("graft_upsert_conf").toString
    Layout.writePartitioned(docs, tmp, Seq("lang"), Seq("doc_id"))
    val lang = docs.select("lang").distinct().orderBy("lang").head().getString(0)
    val before = spark.conf.getOption(key)
    // every SQL job carries the session's explicitly set confs as job
    // properties: a write that flips the session to dynamic shows up
    // in its own jobs' properties
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        seen.add((p.flatMap(q => Option(q.getProperty("spark.jobGroup.id")))
            .getOrElse(""),
          p.flatMap(q => Option(q.getProperty(key))).getOrElse("")))
        ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graft-test-upsert", "upsert")
      try Layout.upsertPartitions(docs.filter(col("lang") === lang), tmp,
        Seq("lang"), Seq("doc_id"))
      finally sc.clearJobGroup()
      sc.setJobGroup("graft-test-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      // listener events arrive in order: once the marker job is seen,
      // so is every job of the upsert
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.asScala.exists(_._1 == "graft-test-marker") &&
          System.nanoTime() < deadline)
        Thread.sleep(10)
    } finally sc.removeSparkListener(listener)
    val upsertJobs = seen.asScala.collect {
      case (g, mode) if g == "graft-test-upsert" => mode }.toSeq
    assert(upsertJobs.nonEmpty, "listener saw no job of the upsert write")
    assert(!upsertJobs.contains("dynamic"),
      "the upsert switched the caller's session to dynamic overwrite")
    assert(spark.conf.getOption(key) === before)
    // still a dynamic overwrite: every other partition survives
    assert(spark.read.parquet(tmp).count() === docs.count())
  }

  test("mergeByKey: updates replace, inserts append, untouched rows pass through") {
    import graft.ext.Layout
    val cust = Tables.customer(spark, dir)
    val nTarget = cust.count()
    val updates = cust.filter(col("c_custkey") % 2 === 0)
      .withColumn("c_acctbal", lit(-1.0))
    val inserts = cust.limit(0).unionByName(
      spark.range(3).select(
        (col("id") + 9000000L).as("c_custkey"), lit("nv").as("c_name"),
        lit(0).cast("int").as("c_nationkey"), lit(5.0).as("c_acctbal"),
        lit("SEG").as("c_mktsegment")))
    val merged = Layout.mergeByKey(cust, updates.unionByName(inserts), "c_custkey")
    assert(merged.count() === nTarget + 3)
    // every even key carries the update value, every odd key the original
    assert(merged.filter(col("c_custkey") % 2 === 0 &&
      col("c_custkey") < 9000000L && col("c_acctbal") =!= -1.0).count() === 0)
    val odd = merged.filter(col("c_custkey") % 2 === 1 &&
      col("c_custkey") < 9000000L)
    assert(odd.except(cust.filter(col("c_custkey") % 2 === 1)).isEmpty)
  }

  test("hard negatives: labels always differ from the query's; ranks dense from 1") {
    val emb = Tables.embeddings(spark, dir)
    val hn = Similarity.hardNegatives(
      Similarity.ivfAssignmentsFor(spark, dir), emb, k = 10)
    val labeled = hn.join(
      emb.select(col("vec_id").as("query_id"), col("label").as("label_q")),
      "query_id")
    assert(labeled.filter(col("neg_label") === col("label_q")).count() === 0,
      "a hard negative shared the query's label")
    // ranks are 1..n(query) with no gaps
    val ranks = hn.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"), min(col("rank")).as("mn"))
    assert(ranks.filter(col("mx") =!= col("n") || col("mn") =!= 1).count() === 0)
    // and each is a genuine neighbor: sim matches a direct recomputation
    val direct = hn.join(emb.select(col("vec_id").as("query_id"),
        col("embedding").as("e_q")), "query_id")
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("e_c")), "neighbor_id")
      .withColumn("sim2", round(Similarity.cosine(col("e_q"), col("e_c")), 6))
    assert(direct.filter(col("sim") =!= col("sim2")).count() === 0)
  }

  test("embedding decontam: removed == (max eval sim >= t); closest_eval is the argmax") {
    val emb = Tables.embeddings(spark, dir)
    val eval = emb.filter(col("vec_id") % 20 === 0)
    val corpus = emb.filter(col("vec_id") % 20 =!= 0)
    val out = Similarity.evalDecontam(corpus, eval, threshold = 0.33)
    // brute-force max sim per corpus vector
    val brute = corpus.select(col("vec_id"), col("embedding").as("e"))
      .crossJoin(eval.select(col("vec_id").as("ev"), col("embedding").as("e_v")))
      .withColumn("s", Similarity.cosine(col("e"), col("e_v")))
      .groupBy("vec_id").agg(max(col("s")).as("mx"))
    val j = out.join(brute, "vec_id")
    assert(j.filter(round(col("sim"), 6) =!= round(col("mx"), 6)).count() === 0,
      "closest_eval sim is not the max eval similarity")
    assert(j.filter((col("mx") >= 0.33).cast("int") =!= col("removed")).count() === 0)
    assert(out.count() === corpus.count(), "screen must cover every corpus row")
  }

  test("gopher filter: keep is the rule conjunction; rules match direct recomputation") {
    import spark.implicits._
    val docs = Seq(
      // long enough, diverse, stopword-rich: keeps
      (1L, "the quick brown fox jumps over a lazy dog and then walks to " +
        "the river bank where it drinks some cool water before returning " +
        "home in the warm evening light of summer sunset hours today", "s"),
      // word repetition: dup rule fails
      (2L, ("spam " * 40).trim, "s"),
      // too short: word-count rule fails
      (3L, "tiny doc", "s")).toDF("doc_id", "text", "source")
    val out = graft.ext.TextAnalysis.gopherFilter(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6))).toMap
    assert(out(2L)._4 === 0, "all-spam doc must fail the dup rule")
    assert(out(3L)._1 === 0, "3-word doc must fail the word-count rule")
    // keep == conjunction on the full fixture corpus too
    val fx = graft.ext.TextAnalysis.gopherFilter(Tables.documents(spark, dir))
    assert(fx.filter(col("keep") =!=
      col("wc_ok") * col("len_ok") * col("stop_ok") * col("dup_ok")).count() === 0)
  }

  test("leakage-safe splits: no near-dup component ever spans two splits") {
    val docs = Tables.documents(spark, dir)
    val assigned = graft.ext.Sampling.leakageSafeSplits(docs)
    // every component lands in exactly one split
    assert(assigned.groupBy("component")
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1).count() === 0,
      "a component straddles a split boundary — leakage")
    // and the assignment covers the corpus exactly
    assert(assigned.count() === docs.count())
    // control: the plain per-doc split DOES leak on this corpus (the
    // fixture has near-dup clusters), which is why this operator exists
    val plain = graft.ext.Sampling.splitAssign(docs, "doc_id")
      .join(assigned.select(col("doc_id"), col("component")), "doc_id")
    val plainLeaks = plain.groupBy("component")
      .agg(countDistinct(col("split")).as("ns")).filter(col("ns") > 1).count()
    assert(plainLeaks > 0, "fixture has no straddling clusters; control is vacuous")
  }

  test("PQ ADC tables: distributed build equals driver build on fixed codebooks") {
    import spark.implicits._
    // fixed codebooks — no training, so this pins the two dispatch
    // branches of pqModel's table build against each other with no
    // bet on Lloyd determinism: m=2 sub-spaces, kSub=3, dSub=2
    val books: Array[Array[Seq[Double]]] = Array(
      Array(Seq(1.0, 2.0), Seq(0.5, -1.0), Seq(0.0, 0.25)),
      Array(Seq(-3.0, 0.125), Seq(7.0, 2.5), Seq(1.5, -0.75)))
    val qNorm = Seq(
      (10L, Seq(0.1, -0.2, 0.3, 0.4), 0.5477),
      (11L, Seq(1.0, 1.0, -1.0, 2.0), 2.6458),
      (12L, Seq(0.0, 0.0, 0.0, 0.0), 0.0))
      .toDF("query_id", "e_q", "n_q")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[scala.collection.Seq[Double]](2).map(_.toSeq)))
      .sortBy(_._1).toSeq
    val viaDriver = Similarity.pqDotTablesDriver(
      spark, qNorm.collect().toSeq, books, m = 2, dSub = 2)
    val viaDistributed = Similarity.pqDotTablesDistributed(
      qNorm, books, m = 2, dSub = 2)
    assert(canon(viaDriver) === canon(viaDistributed))
    // and the values are the actual sub-space dot products
    val t10 = canon(viaDriver).head._3
    assert(t10(0) === Seq(0.1 * 1.0 + -0.2 * 2.0, 0.1 * 0.5 + -0.2 * -1.0,
      0.1 * 0.0 + -0.2 * 0.25))
    assert(t10(1) === Seq(0.3 * -3.0 + 0.4 * 0.125, 0.3 * 7.0 + 0.4 * 2.5,
      0.3 * 1.5 + 0.4 * -0.75))
  }

  test("containment is asymmetric: planted excerpt scores 1.0 one way only") {
    import spark.implicits._
    val small = "alpha beta gamma delta epsilon zeta eta theta"
    val big = small + " iota kappa lambda mu nu xi omicron pi rho sigma tau " +
      "upsilon phi chi psi omega one two three four five six seven eight"
    val docs = Seq((1L, small, "s"), (2L, big, "s"),
      (3L, "totally different words entirely unrelated content here now", "s"))
      .toDF("doc_id", "text", "source")
    val pairs = Dedup.containmentPairs(docs, threshold = 0.9)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    // every trigram of the excerpt appears in the container -> 1.0
    assert(pairs.exists { case (a, b, c) => a == 1L && b == 2L && c == 1.0 },
      s"excerpt->container must score 1.0, got ${pairs.mkString(",")}")
    // the container is NOT contained in the excerpt
    assert(!pairs.exists { case (a, b, _) => a == 2L && b == 1L })
    // and the unrelated doc matches nothing
    assert(!pairs.exists { case (a, b, _) => a == 3L || b == 3L })
  }

  test("incremental components: a batch doc bridging two history components merges them") {
    import spark.implicits._
    // history components {2,5} (label 2) and {3,7} (label 3)
    val histPairs = Seq((2L, 5L), (3L, 7L)).toDF("doc_a", "doc_b")
    val hist = Dedup.connectedComponents(histPairs, "doc_a", "doc_b")
    // batch doc 1 pairs with one member of EACH -> single component,
    // global min label 1
    val sliver = Seq((1L, 5L), (1L, 7L)).toDF("doc_a", "doc_b")
    val res = Dedup.incrementalComponents(hist, sliver)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L, 7L -> 1L))
  }

  test("incremental components equal the full recompute on random splits") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val edges = (0 until 300).map { _ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)
    }.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val (histEdges, newEdges) = edges.partition(_ => rnd.nextBoolean())
    val hist = Dedup.connectedComponents(
      histEdges.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
    val inc = Dedup.incrementalComponents(hist, newEdges.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.connectedComponents(
        edges.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc === full)
  }

  test("semantic dedup: min-id representative per cluster, singletons keep") {
    import spark.implicits._
    // two exact-duplicate clusters {1,2,3} and {4,5} + one orthogonal
    // singleton; cosine(identical) = 1 > 0.95, cross-cluster ~ 0
    val a = Array.tabulate(8)(i => if (i < 4) 1.0f else 0.0f)
    val b = Array.tabulate(8)(i => if (i >= 4) 1.0f else 0.0f)
    val c = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val emb = Seq((1L, a), (2L, a), (3L, a), (4L, b), (5L, b), (6L, c))
      .toDF("vec_id", "embedding")
    val rows = Similarity.semanticDedup(emb, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(rows === Map(
      1L -> (1L, 1), 2L -> (1L, 0), 3L -> (1L, 0),
      4L -> (4L, 1), 5L -> (4L, 0), 6L -> (6L, 1)))
  }

  test("semantic dedup invariants on the real corpus") {
    val res = Similarity.semanticDedup(Tables.embeddings(spark, dir), 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val n = Tables.embeddings(spark, dir).count()
    assert(res.length === n, "keep-list must cover every vector")
    // representative is the min id of its group and is itself kept
    val byRep = res.groupBy(_._2)
    byRep.foreach { case (rep, members) =>
      assert(members.map(_._1).min === rep)
      assert(members.count(_._3 == 1) === 1, s"exactly one keep in $rep")
      assert(members.find(_._1 == rep).get._3 === 1)
    }
  }

  test("quality-weighted sample keeps exactly the bucket<quality docs") {
    import graft.ext.{Sampling, TextAnalysis}
    val docs = Tables.documents(spark, dir)
    val kept = Sampling.qualityWeightedSample(docs)
      .collect().map(_.getLong(0)).toSet
    val expected = TextAnalysis.qualityScore(docs)
      .withColumn("b", Sampling.bucket(col("doc_id"), 7L))
      .collect()
      .filter(r => r.getAs[Long]("b") * 10000L <
        r.getAs[Long]("quality_x10k") * Sampling.Buckets)
      .map(_.getLong(0)).toSet
    assert(kept === expected)
    assert(kept.nonEmpty && kept.size < docs.count(),
      "the quality weighting must actually bite")
  }

  test("media exact dedup: identical bytes collapse across formats") {
    import spark.implicits._
    val media = Seq(
      (1L, "same bytes", "image/png"), (2L, "same bytes", "audio/wav"),
      (3L, "other bytes", "image/png"))
      .toDF("media_id", "text", "format")
      .select(col("media_id"), encode(col("text"), "UTF-8").as("payload"),
        col("format"))
    val rows = Multimodal.mediaExactDedup(media)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // formats differ but the bytes are identical -> one representative
    assert(rows === Map(1L -> ((2L, 10L)), 3L -> ((1L, 11L))))
  }

  test("column profile: known nulls and distincts in one pass") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("a")), (Some(1L), None),
      (Some(2L), Some("b")), (None, Some("a")))
      .toDF("k", "s")
    val rows = graft.ext.DataQuality.columnProfile(df, Seq("k", "s"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows("k") === ((3L, 1L, 2L))) // present, null, distinct
    assert(rows("s") === ((3L, 1L, 2L)))
  }

  test("epoch order: per-epoch permutations, contiguous global stream") {
    import graft.ext.Sampling
    val docs = Tables.documents(spark, dir)
    val n = docs.count()
    val rows = Sampling.epochOrder(docs, epochs = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length === 2 * n)
    // each epoch is a complete permutation 1..N
    (0 to 1).foreach { e =>
      val eps = rows.filter(_._1 == e)
      assert(eps.map(_._3).sorted.toSeq === (1L to n).toSeq, s"epoch $e")
      assert(eps.map(_._2).distinct.length === n)
    }
    // the two epochs order documents DIFFERENTLY (independent seeds)
    val ord0 = rows.filter(_._1 == 0).sortBy(_._3).map(_._2).toSeq
    val ord1 = rows.filter(_._1 == 1).sortBy(_._3).map(_._2).toSeq
    assert(ord0 !== ord1)
    // global positions are the contiguous concatenation 1..2N
    assert(rows.map(_._4).sorted.toSeq === (1L to 2 * n).toSeq)
    // epoch 0 IS the plain shuffle order under the same seed
    val plain = Sampling.shuffleOrder(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2).map(_._1).toSeq
    assert(ord0 === plain)
  }

  test("vocab OOV rate: known dictionary, planted OOV tokens") {
    import spark.implicits._
    // "common" appears 3x (in-vocab at minCount=2); each "rareN" once
    val docs = Seq(
      (1L, "common rare1"), (2L, "common rare2"), (3L, "common"))
      .toDF("doc_id", "text")
    val rows = graft.ext.Search.vocabOovRate(docs, "text",
        minCount = 2L, maxVocab = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
    assert(rows(1L) === ((2L, 1L, Some(5000L)))) // half OOV
    assert(rows(2L) === ((2L, 1L, Some(5000L))))
    assert(rows(3L) === ((1L, 0L, Some(0L))))
  }

  test("key-skew profile: known-answer frequencies") {
    import spark.implicits._
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d"))
      .toDF("k")
    val r = graft.ext.DataQuality.keySkewProfile(df, "k").collect()(0)
    assert(r.getAs[Long]("n_keys") === 4L)
    assert(r.getAs[Long]("total_rows") === 10L)
    assert(r.getAs[Long]("max_cnt") === 6L)
    // sorted counts [1,1,2,6]: p50 = 1.5, p99 = 2 + 0.97*(6-2) = 5.88
    assert(r.getAs[Double]("p50_cnt") === 1.5)
    assert(r.getAs[Double]("p99_cnt") === 5.88)
    assert(r.getAs[Long]("skew_x100") === 240L) // 6*100*4/10
    assert(r.getAs[Long]("salt_factor") === 3L) // ceil(6/2.5)
  }

  test("DSIR importance: target-like docs outrank, duplicates tie-break, weights integer-stable") {
    import spark.implicits._
    // two token populations: target docs speak 'tt*', raw-only docs
    // speak 'rr*'; the mixed doc sits between
    val docs = Seq(
      (0L, "tt1 tt2 tt3", "en"), // pure target-language
      (1L, "tt1 tt2 tt3", "en"), // verbatim duplicate of 0
      (2L, "tt1 rr1 rr2", "en"), // mixed
      (3L, "rr1 rr2 rr3", "fr"), // pure raw-only
      (4L, "rr1 rr2 rr3", "fr")
    ).toDF("doc_id", "text", "lang")
    val isT = col("lang") === "en"
    val lr = graft.ext.Sampling.dsirLogRatio(docs, isT).collect()
    assert(lr.length === 6) // 6 distinct tokens, no bucket collisions expected at md5/3-hex
    val top3 = graft.ext.Sampling.importanceTopK(docs, isT, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the two pure-target docs must lead (identical weights — the
    // seeded jitter orders them deterministically), the mixed doc third
    assert(top3.map(_._1).toSet === Set(0L, 1L, 2L))
    assert(top3(0)._2 === top3(1)._2, "verbatim duplicates share a weight")
    assert(top3.take(2).map(_._1).toSet === Set(0L, 1L))
    val wMixed = top3.find(_._1 == 2L).get._2
    assert(top3(0)._2 > wMixed, "pure target outweighs mixed")
    // weight is a pure integer function of the corpus: recompute equal
    val again = graft.ext.Sampling.importanceTopK(docs, isT, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(again.toSeq === top3.toSeq)
  }

  test("LM score: hand-computed bigram cross-entropies, frequent transitions cost less") {
    import spark.implicits._
    // bigrams: (a,b) x2, (a,c) x1; c1(a)=3, V=3
    //   xent(a,b) = -ln((2+1)/(3+3)) = ln 2; xent(a,c) = ln 3
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"))
      .toDF("doc_id", "text")
    val lnX1e9 = (x: Double) => Math.round(Math.log(x) * 1e9)
    val dict = graft.ext.TextAnalysis.lmBigramXent(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(dict === Map(("a", "b") -> lnX1e9(2.0), ("a", "c") -> lnX1e9(3.0)))
    val scores = graft.ext.TextAnalysis.lmScore(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(scores(1L) === ((1L, lnX1e9(2.0), lnX1e9(2.0))))
    assert(scores(2L) === scores(1L))
    assert(scores(3L) === ((1L, lnX1e9(3.0), lnX1e9(3.0))))
    assert(scores(3L)._3 > scores(1L)._3,
      "the rarer transition must cost more")
  }

  test("distribution drift: known cohort shares and deltas") {
    import spark.implicits._
    // cohort A: buckets 0,0,1; cohort B: buckets 1,1,1,2
    val df = Seq((0L, false), (0L, false), (1L, false),
      (1L, true), (1L, true), (1L, true), (2L, true)).toDF("b", "is_b")
    val r = graft.ext.DataQuality.distributionDrift(df, col("b"), col("is_b"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getLong(5)))
    // shares: A = [2/3, 1/3, 0] -> [6666, 3333, 0] x10k
    //         B = [0, 3/4, 1/4] -> [0, 7500, 2500] x10k
    assert(r.toSeq === Seq(
      (0L, 2L, 0L, 6666L, 0L, -6666L),
      (1L, 1L, 3L, 3333L, 7500L, 4167L),
      (2L, 0L, 1L, 0L, 2500L, 2500L)))
  }

  test("curation audit: outcomes partition the corpus and match the funnel") {
    val docs = Tables.documents(spark, dir)
    val audit = graft.ext.Curation.curationAudit(docs)
    val byOutcome = audit.groupBy(col("outcome")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byOutcome.values.sum === docs.count(), "audit covers every doc")
    // consistency with the funnel built from the same stage frames
    val funnel = graft.ext.Curation.curationFunnel(docs)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    def n(k: String) = byOutcome.getOrElse(k, 0L)
    assert(n("quality") === funnel("input") - funnel("quality_pass"))
    assert(n("exact_dup") === funnel("quality_pass") - funnel("exact_kept"))
    assert(n("near_dup") === funnel("exact_kept") - funnel("near_dup_kept"))
    assert(n("kept") === funnel("near_dup_kept"))
    assert(byOutcome.keySet.subsetOf(
      Set("quality", "exact_dup", "near_dup", "kept")))
  }

  test("IVF recall: hits are bounded by k and count true intersections") {
    val r = graft.ext.Similarity.queries("sim_ivf_recall")(spark, dir)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.length === graft.ext.Similarity.GateQueryCut)
    for ((q, hit, rec) <- r) {
      assert(hit >= 0 && hit <= graft.ext.Similarity.GateK, s"query $q hits $hit")
      assert(rec === hit * 100 / graft.ext.Similarity.GateK)
    }
    // the fixture's IVF index is good: some query must recall > 0
    assert(r.map(_._2).sum > 0, "all-zero recall means the intersect is broken")
  }

  test("minhash_sig64 is bit-identical to the composable HOF signature") {
    // the r15 native one-pass signature must equal Spark's own
    // array((0..k).map(s => array_min(transform(sh, h =>
    // xxhash64(h, lit(s)))))) — the form it replaced — on real shingle
    // arrays AND adversarial ones (empty, single, negative hashes)
    import spark.implicits._
    val k = 16
    val fixture = Dedup.minhashShingles(Tables.documents(spark, dir))
      .select(col("sh"))
    val crafted = Seq(
      Seq.empty[Long], Seq(0L), Seq(Long.MinValue, Long.MaxValue, -1L, 42L),
      (1L to 100L).map(i => i * -7919L).toSeq).toDF("sh")
    for (df <- Seq(fixture, crafted)) {
      val hof = array((0 until k).map { s =>
        array_min(transform(col("sh"), h => xxhash64(h, lit(s))))
      }: _*)
      val diff = df.select(
        graft.functions.MinhashSig64.minhash_sig64(col("sh"), k).as("native"),
        hof.as("ref"))
        .filter(not(col("native") <=> col("ref"))).count()
      assert(diff === 0L)
    }
  }

  test("sorted_intersect_card equals size(array_intersect) on sorted distinct arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { _ =>
      def arr() = rnd.shuffle((-50L to 50L).toVector)
        .take(rnd.nextInt(40)).distinct.sorted
      (arr(), arr())
    } :+ ((Seq.empty[Long], Seq(1L, 2L))) :+ ((Seq(3L), Seq.empty[Long]))
    val df = rows.toDF("a", "b")
    val diff = df.select(
      graft.functions.SortedIntersectCard.sorted_intersect_card(
        col("a"), col("b")).as("native"),
      size(array_intersect(col("a"), col("b"))).as("ref"))
      .filter(col("native") =!= col("ref")).count()
    assert(diff === 0L)
    // and the derived union identity the verify stages rely on
    val uDiff = df.select(
      (size(col("a")) + size(col("b")) - graft.functions.SortedIntersectCard
        .sorted_intersect_card(col("a"), col("b"))).as("derived"),
      size(array_union(col("a"), col("b"))).as("ref"))
      .filter(col("derived") =!= col("ref")).count()
    assert(uDiff === 0L)
  }

  test("sorted_intersect_card debug check rejects contract-violating input") {
    // ADVICE r15: the sorted-ascending-distinct contract is otherwise
    // unchecked — with the opt-in validation on, an unsorted or
    // non-distinct array (e.g. a stale pre-r15 CompactedState shingle
    // dir) throws instead of silently undercounting. Exercises the
    // validator directly (the flag is read once at class init, so
    // flipping the system property mid-JVM can't arm the SQL path).
    import org.apache.spark.sql.catalyst.util.ArrayData
    def arr(xs: Long*) = ArrayData.toArrayData(xs.toArray)
    val m = classOf[graft.functions.SortedIntersectCard.type]
      .getDeclaredMethod("requireSortedDistinct",
        classOf[ArrayData], classOf[String])
    m.setAccessible(true)
    def check(a: ArrayData) = try {
      m.invoke(graft.functions.SortedIntersectCard, a, "left"); true
    } catch {
      case e: java.lang.reflect.InvocationTargetException
          if e.getCause.isInstanceOf[IllegalArgumentException] => false
    }
    assert(check(arr(1L, 2L, 5L)))
    assert(check(arr()))
    assert(!check(arr(2L, 1L)))      // unsorted
    assert(!check(arr(1L, 1L, 2L))) // non-distinct
  }
}

object ExtSpec {
  val Injected = "injected dedup-chain failure"
  @volatile var armStarted = new java.util.concurrent.CountDownLatch(1)
  @volatile var holdUntil = 0L
  val holdEnd = new java.util.concurrent.atomic.AtomicReference[String]()
  def injectedFailure(id: Long): Long =
    throw new IllegalStateException(s"$Injected at doc $id")
}
