package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{JdbcUpsertSink, StreamingQueries, UpsertSink}

case class Ev(ts: Timestamp, user_id: Long, value: Double, event_type: String)

/** Streaming parity (SURVEY.md §5.2): stream results equal batch
  * results on the same data; watermark drops late rows; upsert sink is
  * idempotent. MemoryStream + processAllAvailable makes all of it
  * synchronous and deterministic.
  */
class StreamingSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.local("graft-streaming-test")
  private val smallFixture = "/root/testdata/sf0.001"

  private def ts(s: String) = Timestamp.valueOf(s)

  private def eventsFromFixture(n: Int): Seq[Ev] = {
    val rows = graft.sources.Tables.events(spark, smallFixture)
      .select("ts", "user_id", "value", "event_type")
      .limit(n).collect()
    rows.map(r => Ev(r.getTimestamp(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSeq
  }

  test("stream q3/q4 final state equals batch aggregation on same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = eventsFromFixture(500)

    val in = MemoryStream[Ev]
    val sink = new UpsertSink(Seq("user_id"))
    val q = sink.writeTo(
      StreamingQueries.q3UserGmv(in.toDF()).writeStream.outputMode("update"))
    in.addData(data.take(200))
    q.processAllAvailable()
    in.addData(data.drop(200))
    q.processAllAvailable()
    q.stop()

    val batch = data.toDF()
      .groupBy(col("user_id")).agg(round(sum(col("value")), 2).as("amount"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val streamed = sink.snapshot.map { case (k, row) =>
      k.head.asInstanceOf[Long] -> row.getAs[Double]("amount") }
    assert(streamed === batch)
  }

  test("stream q1 dual-state (dedup UV + sum GMV) equals batch countDistinct/sum") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = eventsFromFixture(400)

    val inUv = MemoryStream[Ev]
    val uvSink = new UpsertSink(Seq("date_str"))
    val qUv = uvSink.writeTo(
      StreamingQueries.q1DailyUv(inUv.toDF()).writeStream.outputMode("update"))
    inUv.addData(data)
    qUv.processAllAvailable(); qUv.stop()

    val inG = MemoryStream[Ev]
    val gSink = new UpsertSink(Seq("date_str"))
    val qG = gSink.writeTo(
      StreamingQueries.q1DailyGmv(inG.toDF()).writeStream.outputMode("update"))
    inG.addData(data)
    qG.processAllAvailable(); qG.stop()

    val batch = data.toDF()
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("date_str"))
      .agg(countDistinct(col("user_id")).as("uv"),
        round(sum(col("value")), 2).as("payment"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

    val uv = uvSink.snapshot.map { case (k, r) =>
      k.head.asInstanceOf[String] -> r.getAs[Long]("uv") }
    val gmv = gSink.snapshot.map { case (k, r) =>
      k.head.asInstanceOf[String] -> r.getAs[Double]("payment") }
    assert(uv === batch.view.mapValues(_._1).toMap)
    assert(gmv === batch.view.mapValues(_._2).toMap)
  }

  test("q2 append mode emits closed windows and drops late data past watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingQueries.q2PerMinute(in.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("q2_out").start()

    // window 10:00–10:01 gets 2 rows; then an event at 10:02:10 pushes
    // the watermark (10:02:05) past the window end → window closes.
    in.addData(
      Ev(ts("2024-01-01 10:00:10"), 1, 1.0, "a"),
      Ev(ts("2024-01-01 10:00:40"), 2, 1.0, "a"))
    q.processAllAvailable()
    in.addData(Ev(ts("2024-01-01 10:02:10"), 3, 1.0, "a"))
    q.processAllAvailable()
    // late row for the closed 10:00 window — must be dropped
    in.addData(Ev(ts("2024-01-01 10:00:55"), 4, 1.0, "a"))
    q.processAllAvailable()
    // close remaining windows
    in.addData(Ev(ts("2024-01-01 10:10:00"), 5, 1.0, "a"))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("q2_out").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("2024-01-01 10:00") === 2L, s"late row must not count: $out")
  }

  test("events and a replay read µs ts without touching the session's nanosAsLong flag") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val dir = "/root/testdata/sf0.001"
    val s = spark.newSession()
    s.conf.set(key, "false")
    val events = graft.sources.Tables.events(s, dir)
    assert(events.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
    assert(events.count() === graft.sources.Tables.events(spark, dir).count())
    val streamed = StreamingQueries.replay(s, dir, StreamingQueries.q4ChannelGmv,
      Seq("channel_id")).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val batch = events.groupBy(col("event_type"))
      .agg(round(sum(col("value")), 2)).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(streamed === batch)
    assert(s.conf.get(key) === "false")
  }

  test("upsert sink: replaying the same epoch is a no-op (idempotence)") {
    import spark.implicits._
    val sink = new UpsertSink(Seq("k"))
    val batch = Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v")
    sink.apply(batch, 0L)
    val snap1 = sink.snapshot
    sink.apply(batch, 0L) // replay
    assert(sink.snapshot === snap1)
    assert(sink.size === 2)
    // a later epoch updating a key replaces it
    sink.apply(Seq(("a", 9.0)).toDF("k", "v"), 1L)
    assert(sink.snapshot(Seq("a")).getAs[Double]("v") === 9.0)
  }

  test("JDBC upsert sink: q3 streamed through Derby equals batch aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = eventsFromFixture(500)

    val in = MemoryStream[Ev]
    val sink = new JdbcUpsertSink("jdbc:derby:memory:graftq3;create=true",
      "q3_jdbc", Seq("user_id"))
    val q = sink.writeTo(
      StreamingQueries.q3UserGmv(in.toDF()).writeStream.outputMode("update"))
    in.addData(data.take(200))
    q.processAllAvailable()
    in.addData(data.drop(200))
    q.processAllAvailable()
    q.stop()

    val batch = data.toDF()
      .groupBy(col("user_id")).agg(round(sum(col("value")), 2).as("amount"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaJdbc = sink.toDF(spark).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaJdbc === batch)
  }

  test("JDBC upsert sink: replaying the same epoch through Derby is a no-op") {
    import spark.implicits._
    val sink = new JdbcUpsertSink("jdbc:derby:memory:graftidem;create=true",
      "idem", Seq("k"))
    val batch = Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v")
    sink.apply(batch, 0L)
    def snap() = sink.toDF(spark).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val snap1 = snap()
    sink.apply(batch, 0L) // replay: at-least-once channel, same effect
    assert(snap() === snap1)
    // a later epoch updating a key replaces it
    sink.apply(Seq(("a", 9.0)).toDF("k", "v"), 1L)
    assert(snap()("a") === 9.0)
    assert(snap().size === 2)
  }

  test("kafka wire e2e: bytes -> decode -> watermark -> agg -> JDBC upsert, one stream") {
    import spark.implicits._
    // the full consumer chain as ONE continuous stream, through the
    // SHARED config-selected source path (Connectors.consumeOrders):
    // JSON wire values land as text-queue files (what a Kafka value
    // column carries, format="text" — the zero-egress stand-in; a
    // live broker is the same call with format="kafka" + URLs),
    // through the declared decode, watermarked channel aggregation,
    // and the executor-side JDBC upsert — the composed pipeline, not
    // its pieces.
    val wire = graft.gen.OrderGen.ordersJson(spark, 2000)
      .select(col("value")).as[String].collect().toSeq

    val queueDir = tempDir("graft_wire_e2e")
    val decoded = graft.sources.Connectors.consumeOrders(spark,
      Map("format" -> "text", "path" -> queueDir.toString))
    val agg = decoded.groupBy(col("channel_id"))
      .agg(round(sum(col("amount")), 2).as("gmv"), count(lit(1)).as("orders"))
    val sink = new JdbcUpsertSink("jdbc:derby:memory:graftkafka;create=true",
      "channel_gmv", Seq("channel_id"))
    val q = sink.writeTo(agg.writeStream.outputMode("update"))
    wire.grouped(700).zipWithIndex.foreach { case (chunk, i) =>
      // each chunk arrives as a new queue file → its own micro-batch
      java.nio.file.Files.write(queueDir.resolve(f"chunk_$i%05d.jsonl"),
        chunk.mkString("", "\n", "\n").getBytes("UTF-8"))
      q.processAllAvailable()
    }
    q.stop()

    val batch = graft.gen.OrderGen.orders(spark, 2000)
      .groupBy(col("channel_id"))
      .agg(round(sum(col("amount")), 2).as("gmv"), count(lit(1)).as("orders"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val streamed = sink.toDF(spark).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("append+flush session replay equals the complete-mode replay") {
    // the round-4 replay shape: append emits each session ONCE at
    // finalization (sentinel-flushed tail) — must produce the exact
    // session set complete mode emits by re-materializing everything
    val dir = "/root/testdata/sf0.001"
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val complete = key(
      StreamingQueries.replayComplete(spark, dir, StreamingQueries.qSessions))
    val append = key(
      StreamingQueries.replayAppendFlush(spark, dir, StreamingQueries.qSessions)
        .filter(col("user_id") =!= -1L))
    assert(append.nonEmpty)
    assert(append === complete)
  }

  test("flatMapGroupsWithState totals equal the built-in streaming agg") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = eventsFromFixture(600)
    val in = MemoryStream[StreamingQueries.KeyedEvent]
    val q = StreamingQueries.userTotalsWithState(in.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("state_out").start()
    in.addData(data.take(300).map(e => StreamingQueries.KeyedEvent(e.user_id, e.value)))
    q.processAllAvailable()
    in.addData(data.drop(300).map(e => StreamingQueries.KeyedEvent(e.user_id, e.value)))
    q.processAllAvailable()
    q.stop()
    // last update per user == batch totals
    val got = spark.table("state_out")
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("total_value"))).as("s"))
      .select(col("user_id"), col("s.n_events"), round(col("s.total_value"), 2).as("tv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = data.toDF()
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("tv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === want)
  }

  test("stream-stream interval join equals the batch interval join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = eventsFromFixture(1000)
    val clicks = all.filter(_.event_type == "click")
    val purchases = all.filter(_.event_type == "purchase")

    val inC = MemoryStream[Ev]
    val inP = MemoryStream[Ev]
    val q = StreamingQueries.clickToPurchase(inC.toDF(), inP.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("ss_join_out").start()
    inC.addData(clicks); inP.addData(purchases)
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("ss_join_out")
      .select("user_id", "purchase_ts", "click_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    val batch = purchases.toDF().select(col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("value"))
      .join(clicks.toDF().select(col("user_id").as("c_user"), col("ts").as("click_ts")),
        col("p_user") === col("c_user") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 10 minutes"))
      .select(col("p_user"), col("purchase_ts"), col("click_ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty, "fixture should contain click->purchase pairs")
  }

  test("stream_join_attrib gate: file replay through the upsert sink " +
      "equals the batch interval join") {
    val dir = "/root/testdata/sf0.001"
    val out = StreamingQueries.streamJoinAttrib(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val ev = graft.sources.Tables.events(spark, dir)
    val batch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"), col("value"))
      .join(ev.filter(col("event_type") === "click")
          .select(col("user_id").as("cu"), col("ts").as("cts")),
        col("pu") === col("cu") && col("cts") <= col("pts") &&
          col("cts") >= col("pts") -
            expr(s"INTERVAL ${StreamingQueries.AttribWindowHours} hours"))
      .select(col("pu"), unix_micros(col("pts")), unix_micros(col("cts")),
        col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSet === batch.toSet)
    // the upsert PK (user, purchase_us, click_us) must not have
    // collapsed distinct matches — multiset equality, not just set
    assert(out.length === batch.length)
    assert(out.nonEmpty, "fixture should contain click->purchase pairs")
  }

  test("left-outer interval join: inner rows + watermark-gated null padding") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = eventsFromFixture(1000)
    val clicks = all.filter(_.event_type == "click")
    val purchases = all.filter(_.event_type == "purchase")
    // future sentinels (impossible user) push BOTH watermarks past
    // every real window so unmatched purchases become emittable
    val maxTs = all.map(_.ts.getTime).max
    val sentinel = Ev(new java.sql.Timestamp(maxTs + 86400000L), -1L, 0.0, "click")

    val inC = MemoryStream[Ev]
    val inP = MemoryStream[Ev]
    val q = StreamingQueries.clickToPurchaseOuter(inC.toDF(), inP.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("ss_louter_out").start()
    inC.addData(clicks); inP.addData(purchases)
    q.processAllAvailable()
    inC.addData(sentinel); inP.addData(sentinel)
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("ss_louter_out")
      .filter(col("user_id") =!= -1L)
      .select("user_id", "purchase_ts", "click_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), Option(r.getTimestamp(2)))).toSet
    val batch = purchases.toDF().select(col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .join(clicks.toDF().select(col("user_id").as("c_user"), col("ts").as("click_ts")),
        col("p_user") === col("c_user") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 10 minutes"),
        "left_outer")
      .select(col("p_user"), col("purchase_ts"), col("click_ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), Option(r.getTimestamp(2)))).toSet
    assert(streamed === batch)
    assert(batch.exists(_._3.isEmpty),
      "fixture should contain purchases with no preceding click (null-padded)")
    assert(batch.exists(_._3.nonEmpty), "and matched purchases too")
  }

  test("dual-sink fanout: both sinks exactly-once, batch replay idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = eventsFromFixture(600)
    val (h1, h2) = all.splitAt(300)
    val base = tempDir("graft_test_fanout_").toString
    val in = MemoryStream[Ev]
    val q = StreamingQueries.dualSinkFanout(in.toDF(),
      s"$base/a", s"$base/b", s"$base/ckpt")
    in.addData(h1); q.processAllAvailable()
    in.addData(h2); q.processAllAvailable()
    q.stop()
    val want = all.map(e => (e.ts, e.user_id, e.value, e.event_type)).toSet
    def readSink(p: String) = spark.read.parquet(p)
      .select("ts", "user_id", "value", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    assert(readSink(s"$base/a").toSet === want)
    assert(readSink(s"$base/a").length === all.length, "no duplicates in sink A")
    assert(readSink(s"$base/b").toSet === want)
    // replaying a batch (at-least-once delivery) must not duplicate:
    // re-land batch 0's data under its batch_id and re-check
    StreamingQueries.writeBatchIdempotent(h1.toDF(), 0L, s"$base/a")
    assert(readSink(s"$base/a").length === all.length,
      "replayed batch overwrote its own partition, no append")
  }

  test("torn fanout: crash between the two sink writes heals on checkpoint restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = eventsFromFixture(400)
    val (h1, h2) = all.splitAt(200)
    val base = tempDir("graft_test_tornfanout_").toString
    val in = MemoryStream[Ev]
    // crash AFTER sink A landed batch 0, BEFORE sink B — the torn
    // window the Scaladoc reasons about, now executed
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q1 = StreamingQueries.dualSinkFanout(in.toDF(),
      s"$base/a", s"$base/b", s"$base/ckpt", betweenWrites = id =>
        if (id == 0 && !crashed.getAndSet(true))
          throw new RuntimeException("graft-test: torn fanout crash"))
    in.addData(h1)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    assert(crashed.get())
    // torn on-disk state: A has batch 0, B does not
    assert(new java.io.File(s"$base/a/batch_id=0").exists(),
      "crash point must leave sink A's partition on disk")
    assert(!new java.io.File(s"$base/b/batch_id=0").exists(),
      "sink B must NOT have landed before the crash")
    // restart from the same checkpoint with the same source: batch 0
    // replays (A overwritten byte-equal, B written), then batch 1
    val q2 = StreamingQueries.dualSinkFanout(in.toDF(),
      s"$base/a", s"$base/b", s"$base/ckpt")
    q2.processAllAvailable()
    in.addData(h2)
    q2.processAllAvailable()
    q2.stop()
    val want = all.map(e => (e.ts, e.user_id, e.value, e.event_type)).toSet
    def readSink(p: String) = spark.read.parquet(p)
      .select("ts", "user_id", "value", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    for (s <- Seq("a", "b")) {
      assert(readSink(s"$base/$s").toSet === want, s"sink $s content")
      assert(readSink(s"$base/$s").length === all.length,
        s"sink $s duplicates after heal")
    }
  }

  test("stream-static enrichment equals the batch join, keeps unmatched facts") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingQueries.replay(spark, dir,
      StreamingQueries.enrichBySegment(graft.sources.Tables.customer(spark, dir)),
      Seq("segment"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.sources.Tables.events(spark, dir)
      .join(graft.sources.Tables.customer(spark, dir)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment")),
        Seq("user_id"), "left")
      .groupBy(coalesce(col("segment"), lit("UNKNOWN")).as("segment"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed === batch)
  }

  test("streaming agg runs on the RocksDB state store (production state path)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // at 100 TB, keyed state outgrows executor heaps: RocksDB is the
    // spill-to-disk provider. Same query code, one config.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val data = eventsFromFixture(400)
      val in = MemoryStream[Ev]
      val sink = new UpsertSink(Seq("user_id"))
      val q = sink.writeTo(
        StreamingQueries.q3UserGmv(in.toDF()).writeStream.outputMode("update"))
      in.addData(data)
      q.processAllAvailable()
      // the provider must have ACTUALLY engaged — a mistyped conf key
      // would silently fall back to the heap provider and this test
      // would still pass on results alone. RocksDB surfaces its own
      // customMetrics through the state operator's progress.
      val prog = q.lastProgress
      q.stop()
      assert(prog.stateOperators.nonEmpty, "no state operator in progress")
      val metricKeys = prog.stateOperators.flatMap(
        _.customMetrics.keySet().toArray(Array.empty[String])).toSet
      assert(metricKeys.exists(_.startsWith("rocksdb")),
        s"RocksDB provider not engaged; state metrics: $metricKeys")
      val batch = data.toDF()
        .groupBy(col("user_id")).agg(round(sum(col("value")), 2).as("amount"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val streamed = sink.snapshot.map { case (k, row) =>
        k.head.asInstanceOf[Long] -> row.getAs[Double]("amount") }
      assert(streamed === batch)
      // and the Q1 dedup-distinct shape — TWO stateful operators
      // (dropDuplicates state + agg state), the state surface the
      // 100x framing worries about — through the full fixture replay
      // on the same pinned provider, against the batch twin
      val dir = "/root/testdata/sf0.001"
      val viaRocks = StreamingQueries.replay(spark, dir,
        StreamingQueries.q1DailyUv, Seq("date_str"))
        .collect().map(r => r.getAs[String]("date_str") -> r.getAs[Long]("uv")).toMap
      val batchUv = graft.sources.Tables.events(spark, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("date_str"))
        .agg(countDistinct(col("user_id")).as("uv"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(viaRocks === batchUv)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("GEN as a rate-source stream produces valid orders") {
    val q = graft.gen.OrderGen.ordersStream(spark, rowsPerSecond = 500)
      .writeStream.outputMode("append")
      .format("memory").queryName("gen_stream_out").start()
    try {
      // rate source is unbounded: let a couple of micro-batches land
      val deadline = System.currentTimeMillis() + 15000
      while (spark.table("gen_stream_out").isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(250)
      }
    } finally q.stop()
    val out = spark.table("gen_stream_out")
    assert(out.count() > 0, "no rows from rate-source GEN")
    val bad = out.filter(
      col("user_id") < 1 || col("user_id") > 5000 ||
        col("amount") < 1 || col("amount") > 10000 ||
        col("channel_id") < 0 || col("channel_id") > 200 ||
        col("order_tz") =!= "beijing" || col("currency") =!= "rmb")
    assert(bad.count() === 0, "field domains violated")
  }

  test("ingestion path: stream to partitioned parquet with checkpoint, exactly-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("graft_ingest").toString
    val in = MemoryStream[Ev]
    val q = StreamingQueries.ingest(in.toDF(), s"$tmp/data", s"$tmp/ckpt")
    val data = eventsFromFixture(300)
    in.addData(data)
    q.processAllAvailable(); q.stop()
    val written = spark.read.parquet(s"$tmp/data")
    assert(written.count() === 300)
    assert(written.columns.contains("event_date"))
  }

  test("replay streams events.parquet as a part-file DIRECTORY (Spark-written layout)") {
    // The sf1.0 canary regression: the driver fixture ships
    // events.parquet as ONE file, but every Spark-written dataset is a
    // directory of part files — the replay's leaf-name glob matched
    // zero of them and streamed nothing (zero batches, empty sink).
    // Re-land sf0.001 events in the written-by-Spark layout and assert
    // both the update-mode replay and the sentinel-flushed append
    // replay see every row.
    val dir = tempDir("graft_dirlayout").toString
    graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(new java.io.File(s"$dir/events.parquet").isDirectory)
    val streamed = StreamingQueries.replay(spark, dir,
      StreamingQueries.q3UserGmv, Seq("user_id"))
    val batch = graft.sources.Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(round(sum(col("value")), 2).as("amount"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    val sessions = StreamingQueries.replayAppendFlush(spark, dir,
      StreamingQueries.qSessions).filter(col("user_id") =!= -1L)
    val sessionsFixture = StreamingQueries.replayAppendFlush(spark,
      "/root/testdata/sf0.001", StreamingQueries.qSessions)
      .filter(col("user_id") =!= -1L)
    assert(sessions.count() > 0)
    assert(sessions.exceptAll(sessionsFixture).count() === 0
      && sessionsFixture.exceptAll(sessions).count() === 0)
  }

  test("streaming session windows merge across micro-batches (append mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 1: two bursts 10 min apart (same session: gap < 30 min),
    // then a third burst 40 min later (new session). The bursts arrive
    // in SEPARATE micro-batches, so the open-session state must merge
    // batch 2 into batch 1's session. A far-future sentinel (user 99)
    // advances the watermark past everything so append emits all
    // closed sessions.
    val in = MemoryStream[Ev]
    val q = StreamingQueries.qSessions(in.toDF()).writeStream
      .format("memory").queryName("sess_out").outputMode("append").start()
    try {
      in.addData(Ev(ts("2024-01-01 10:00:00"), 1, 1.0, "a"),
        Ev(ts("2024-01-01 10:01:00"), 1, 2.0, "a"))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 10:11:00"), 1, 3.0, "a"))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 10:51:00"), 1, 4.0, "a"))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-02 00:00:00"), 99, 0.0, "s")) // watermark sentinel
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sess_out").filter(col("user_id") === 1)
      .orderBy(col("session_start"))
      .collect().map(r => (r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows === Seq(("2024-01-01 10:00:00", 3L, 6.0),
      ("2024-01-01 10:51:00", 1L, 4.0)),
      "burst 2 must merge into burst 1's session; burst 3 opens a new one")
  }

  test("dropDuplicatesWithinWatermark dedups across micro-batches, bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the same (user_id, event_type) key arrives three times across
    // two micro-batches within the watermark delay — exactly-once
    // retry/at-least-once duplicates. One row must survive.
    val in = MemoryStream[Ev]
    val dedup = StreamingQueries.dedupWithinWatermark(
      in.toDF(), Seq("user_id", "event_type"), delay = "10 minutes")
    val q = dedup.writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      in.addData(Ev(ts("2024-01-01 10:00:00"), 1, 1.0, "buy"),
        Ev(ts("2024-01-01 10:00:05"), 1, 1.0, "buy"), // dup, same batch
        Ev(ts("2024-01-01 10:00:06"), 2, 5.0, "buy"))
      q.processAllAvailable()
      in.addData(Ev(ts("2024-01-01 10:00:10"), 1, 1.0, "buy")) // dup, next batch
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("dedup_out")
    assert(out.filter(col("user_id") === 1).count() === 1,
      "duplicates within the watermark must collapse to one row")
    assert(out.count() === 2)
  }

  test("streaming incremental dedup: first-batch-wins, replay-deterministic") {
    import graft.streaming.StreamingQueries
    import graft.sources.Tables
    val dir = "/root/testdata/sf0.001"
    def run(): Seq[(Long, String)] =
      StreamingQueries.streamDedupIncremental(spark, dir)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val a = run()
    // batch twin: a doc survives iff no smaller-mod-class doc shares
    // its bag-of-words fingerprint
    val fp = graft.ext.Dedup.bagFingerprint(col("text"))
    val f = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), fp.as("fp"),
        pmod(col("doc_id"), lit(3)).as("b"))
    val expected = f.as("x").join(f.as("h"),
        col("h.fp") === col("x.fp") && col("h.b") < col("x.b"), "left_anti")
      .select(col("doc_id"), col("source")).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(a === expected)
    assert(a.nonEmpty && a.size < Tables.documents(spark, dir).count(),
      "the cross-batch dedup must actually drop something")
    // the batch sequence is a pure function of the fixture: a full
    // re-run (fresh checkpoint + state) reproduces identical output
    assert(run() === a)
  }

  test("streaming near-dup equals the batch asymmetric-closure twin, and bites") {
    import graft.ext.Dedup
    val dir = "/root/testdata/sf0.01"
    val docs = graft.sources.Tables.documents(spark, dir)
    val got = StreamingQueries.streamNearDupIncremental(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // batch twin: per mod-3 class, a doc near-dup (banded candidates +
    // exact Jaccard verify) of ANY earlier-class doc drops
    val byBatch = (0 until 3).map(b =>
      docs.filter(pmod(col("doc_id"), lit(3)) === b))
    val dropped = (1 until 3).flatMap { b =>
      val hist = byBatch.take(b).reduce(_ unionByName _)
      Dedup.minhashPairsAgainst(byBatch(b), hist)
        .select("doc_new").distinct().collect().map(_.getLong(0))
    }.toSet
    assert(dropped.nonEmpty, "fixture must exercise the near-dup drop path")
    val expected = docs.select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(p => !dropped(p._1)).sortBy(_._1).toSeq
    assert(got === expected)
  }

  test("streaming near-dup crash-replay converges; guard holds on all three indexes") {
    val dir = "/root/testdata/sf0.001"
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = canon(StreamingQueries.streamNearDupIncremental(spark, dir))
    val base = StreamingQueries.prepareDedupStream(spark, dir,
      scratch = "stream_neardup")
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val thrown = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingQueries.runNearDupStream(spark, dir, base, afterWrites = id =>
        if (id == 1) {
          crashed.set(true)
          throw new RuntimeException("graft-test: injected crash after state write")
        })
    }
    assert(crashed.get(), "the injected crash never fired - nothing was tested")
    assert(thrown.getMessage.contains("injected crash"))
    // replay precondition: batch 1's own band AND shingle partitions
    // are on disk before its epoch ever committed
    assert(new java.io.File(s"$base/bands/delta/batch_id=1").exists())
    assert(new java.io.File(s"$base/shingles/delta/batch_id=1").exists())
    StreamingQueries.runNearDupStream(spark, dir, base)
    assert(canon(StreamingQueries.dedupStreamOutput(spark, base)) === expected)
  }

  test("crash-replay after state write converges to the uninterrupted result") {
    import graft.streaming.StreamingQueries
    val dir = "/root/testdata/sf0.001"
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // uninterrupted reference run (own prepare → fresh checkpoint)
    val expected = canon(StreamingQueries.streamDedupIncremental(spark, dir))
    // crash run: kill the query AFTER batch 1's survivors AND its own
    // fingerprint state landed, but BEFORE the epoch commits — the
    // exact window where replay sees the batch's own batch_id=1 state
    // partition and the `batch_id < id` guard is load-bearing
    val base = StreamingQueries.prepareDedupStream(spark, dir)
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val thrown = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingQueries.runDedupStream(spark, dir, base, afterWrites = id =>
        if (id == 1) {
          crashed.set(true)
          throw new RuntimeException("graft-test: injected crash after state write")
        })
    }
    assert(crashed.get(), "the injected crash never fired - nothing was tested")
    assert(thrown.getMessage.contains("injected crash"))
    // replay precondition on disk: batch 1's own fingerprint partition
    // is visible before its epoch ever committed
    assert(new java.io.File(s"$base/state/delta/batch_id=1").exists(),
      "crash point must leave batch 1's state partition on disk")
    // restart from the SAME checkpoint: batch 1 replays (guard active),
    // batch 2 follows; the landed output must be indistinguishable
    // from the run that never crashed
    StreamingQueries.runDedupStream(spark, dir, base)
    assert(canon(StreamingQueries.dedupStreamOutput(spark, base)) === expected)
  }

  test("crash DURING the compacting batch replays to the uninterrupted result") {
    import graft.streaming.StreamingQueries
    val dir = "/root/testdata/sf0.001"
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = canon(StreamingQueries.streamDedupIncremental(spark, dir))
    // kill AFTER batch 2's delta landing AND its run=2 minor fold,
    // but before the epoch commits — replay of batch 2 must resolve
    // its history WITHOUT run=2 (strict < id) and the re-triggered
    // minor fold must skip (the rename commit already published a
    // complete run=2)
    val base = StreamingQueries.prepareDedupStream(spark, dir)
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val thrown = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingQueries.runDedupStream(spark, dir, base, afterWrites = id =>
        if (id == 2) {
          crashed.set(true)
          throw new RuntimeException("graft-test: injected crash after compaction")
        })
    }
    assert(crashed.get(), "the injected crash never fired - nothing was tested")
    assert(thrown.getMessage.contains("injected crash"))
    // crash point on disk: the minor run is committed, its epoch never
    assert(new java.io.File(s"$base/state/runs/run=2").exists(),
      "crash point must leave the run=2 fold on disk")
    StreamingQueries.runDedupStream(spark, dir, base)
    assert(canon(StreamingQueries.dedupStreamOutput(spark, base)) === expected)
  }

  test("crash during the MAJOR-fold batch replays to the uninterrupted result") {
    import graft.streaming.StreamingQueries
    import graft.streaming.StreamingQueries.CompactedState
    val dir = "/root/testdata/sf0.001"
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val ctrl = StreamingQueries.prepareDedupStream(spark, dir,
      nBatches = 6, scratch = "stream_dedup_major_ctrl")
    StreamingQueries.runDedupStream(spark, dir, ctrl, compactCadence = 0)
    val expected = canon(StreamingQueries.dedupStreamOutput(spark, ctrl))
    // cadence 1 + majorRuns 2: minors at 1 and 2, the async major
    // gen=2 triggers during batch 2 — and the query is killed in the
    // same foreachBatch, so the fold races query teardown exactly the
    // way a real crash would. Whatever it managed (nothing, staging
    // garbage, or a committed gen=2), the restart must converge.
    val base = StreamingQueries.prepareDedupStream(spark, dir,
      nBatches = 6, scratch = "stream_dedup_major_crash")
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val thrown = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingQueries.runDedupStream(spark, dir, base,
        afterWrites = id =>
          if (id == 2) {
            crashed.set(true)
            throw new RuntimeException("graft-test: injected crash after compaction")
          },
        compactCadence = 1, majorRuns = 2)
    }
    assert(crashed.get(), "the injected crash never fired - nothing was tested")
    assert(thrown.getMessage.contains("injected crash"))
    CompactedState.awaitCompactions(base) // settle the orphaned fold
    StreamingQueries.runDedupStream(spark, dir, base,
      compactCadence = 1, majorRuns = 2)
    assert(canon(StreamingQueries.dedupStreamOutput(spark, base)) === expected)
    // majors DID run (the layout is generational, not delta-flat)
    assert(new java.io.File(s"$base/state/compact").exists() &&
      new java.io.File(s"$base/state/compact").listFiles()
        .exists(_.getName.startsWith("gen=")),
      "major fold never committed a generation in 6 cadence-1 batches")
  }

  /** Crash-replay one encode leg: kill its stream after batch 1's
    * landing but before the epoch commits, restart it against the
    * SAME checkpoint, and return what landed. The replay must
    * overwrite batch 1's own partition idempotently (a duplicated
    * landing would double those docs' rows, or that batch's wc
    * slice) and re-encode it identically. */
  private def crashAndReplay(dir: String,
      leg: graft.ext.TokenizerArtifact.EncodeLeg)
      : org.apache.spark.sql.DataFrame = {
    val base = StreamingQueries.prepareDedupStream(spark, dir,
      scratch = s"${leg.gate}_crash")
    leg.write(graft.sources.Tables.documents(spark, dir), s"$base/artifact")
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val thrown = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingQueries.runArtifactEncodeStream(spark, dir, base, leg,
        afterWrites = id =>
          if (id == 1) {
            crashed.set(true)
            throw new RuntimeException("graft-test: injected crash after state write")
          })
    }
    assert(crashed.get(), "the injected crash never fired - nothing was tested")
    assert(thrown.getMessage.contains("injected crash"))
    assert(new java.io.File(s"$base/out/batch_id=1").exists(),
      "crash point must leave batch 1's landing on disk")
    StreamingQueries.runArtifactEncodeStream(spark, dir, base, leg)
    StreamingQueries.artifactEncodeOutput(spark, base, leg)
  }

  test("streaming encode-from-artifact equals the batch encode; crash-replay converges") {
    import graft.ext.{CorpusPrep, TokenizerArtifact}
    import graft.sources.Tables
    val dir = "/root/testdata/sf0.001"
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSeq
    // batch twin: the fused train+encode digests
    val batch = CorpusPrep.bpeEncodeIds(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_tokens"), col("n_unk"),
        size(col("ids")).cast("long").as("n_ids"),
        md5(array_join(transform(col("ids"), i => i.cast("string")), " "))
          .as("ids_md5"))
      .orderBy(col("doc_id"))
    val expected = canon(batch)
    val leg = TokenizerArtifact.bpeEncodeLeg
    assert(canon(StreamingQueries.artifactEncodeStream(spark, dir, leg)) === expected)
    assert(canon(crashAndReplay(dir, leg)) === expected)
  }

  test("streaming WordPiece encode-from-artifact equals the batch encode; crash-replay converges") {
    import graft.ext.{CorpusPrep, TokenizerArtifact}
    import graft.sources.Tables
    val dir = "/root/testdata/sf0.001"
    def canon(df: org.apache.spark.sql.DataFrame)
        : Seq[(String, Long, Long, String, Int)] =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getInt(4))).toSeq
    // batch twin: the fused train+encode per-word frame
    val expected =
      canon(CorpusPrep.wordPieceEncodeWords(Tables.documents(spark, dir)))
    assert(expected.nonEmpty)
    val leg = TokenizerArtifact.wordPieceLeg
    assert(canon(StreamingQueries.artifactEncodeStream(spark, dir, leg))
      === expected)
    // the re-aggregated wc sums must converge to the uninterrupted
    // per-word frame after the replay
    assert(canon(crashAndReplay(dir, leg)) === expected)
  }

  test("streaming unigram encode-from-artifact equals the batch encode; crash-replay converges") {
    import graft.ext.{CorpusPrep, TokenizerArtifact}
    import graft.sources.Tables
    val dir = "/root/testdata/sf0.001"
    def canon(df: org.apache.spark.sql.DataFrame)
        : Seq[(Long, Long, Long, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // batch twin: the fused train+segment+aggregate per-doc frame
    val expected =
      canon(CorpusPrep.unigramEncodeStats(Tables.documents(spark, dir))
        .orderBy("doc_id"))
    assert(expected.nonEmpty)
    val leg = TokenizerArtifact.unigramLeg
    assert(canon(StreamingQueries.artifactEncodeStream(spark, dir, leg))
      === expected)
    assert(canon(crashAndReplay(dir, leg)) === expected)
  }

  test("streaming SAMPLED unigram encode equals the sampled batch twin; " +
      "crash-replay re-samples identically; epochs vary the segmentation") {
    import graft.ext.{CorpusPrep, TokenizerArtifact}
    import graft.sources.Tables
    val dir = "/root/testdata/sf0.001"
    def canon(df: org.apache.spark.sql.DataFrame)
        : Seq[(Long, Long, Long, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val expected =
      canon(CorpusPrep.unigramSampledDocStats(Tables.documents(spark, dir)))
    assert(expected.nonEmpty)
    val leg = TokenizerArtifact.unigramSampledLeg
    assert(canon(StreamingQueries.artifactEncodeStream(spark, dir, leg))
      === expected)
    // the sampling is REGULARIZATION, not noise in the gate: it must
    // differ from the deterministic (argmin) encode somewhere, and a
    // different epoch must re-sample the corpus differently — while
    // each epoch stays replay-stable
    val argmin =
      canon(CorpusPrep.unigramEncodeStats(Tables.documents(spark, dir))
        .orderBy("doc_id"))
    assert(expected !== argmin,
      "sampled encode degenerated to the argmin encode on every doc")
    // the replay must RE-SAMPLE batch 1 identically (the
    // (seed, epoch, doc_id, word) key carries no RNG state)
    assert(canon(crashAndReplay(dir, leg)) === expected)
    // epoch 2: a different (but equally deterministic) sampling
    val epoch2 =
      canon(CorpusPrep.unigramSampledDocStats(Tables.documents(spark, dir),
        epoch = 2L))
    assert(epoch2 !== expected,
      "epoch 2 sampled identically to epoch 1 - the epoch key is dead")
  }

  test("streaming byte-BPE encode-from-artifact equals the batch encode; " +
      "crash-replay converges") {
    import graft.ext.{ByteBpe, TokenizerArtifact}
    import graft.sources.Tables
    val dir = "/root/testdata/sf0.001"
    def canon(df: org.apache.spark.sql.DataFrame)
        : Seq[(Long, Long, Long, Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSeq
    val expected = canon(
      ByteBpe.byteEncodeIds(Tables.documents(spark, dir))
        .select(col("doc_id"), col("n_tokens"), col("n_fallback"),
          size(col("ids")).cast("long").as("n_ids"),
          md5(array_join(transform(col("ids"), i => i.cast("string")), " "))
            .as("ids_md5"))
        .orderBy(col("doc_id")))
    assert(expected.nonEmpty)
    val leg = TokenizerArtifact.byteBpeLeg
    assert(canon(StreamingQueries.artifactEncodeStream(spark, dir, leg))
      === expected)
    assert(canon(crashAndReplay(dir, leg)) === expected)
  }

  test("streaming BPE-dropout encode equals the dropout batch twin; " +
      "crash-replay re-encodes identically") {
    import graft.ext.{CorpusPrep, TokenizerArtifact}
    import graft.sources.Tables
    val dir = "/root/testdata/sf0.001"
    def canon(df: org.apache.spark.sql.DataFrame)
        : Seq[(Long, Long, Long, Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSeq
    def digest(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("n_tokens"), col("n_unk"),
          size(col("ids")).cast("long").as("n_ids"),
          md5(array_join(transform(col("ids"), i => i.cast("string")), " "))
            .as("ids_md5"))
        .orderBy(col("doc_id"))
    val expected =
      canon(digest(CorpusPrep.bpeEncodeIdsDropout(Tables.documents(spark, dir))))
    assert(expected.nonEmpty)
    val leg = TokenizerArtifact.bpeDropoutLeg
    assert(canon(StreamingQueries.artifactEncodeStream(spark, dir, leg))
      === expected)
    // the dropout must actually reinterpret somewhere: it differs
    // from the clean encode on at least one doc
    val clean =
      canon(digest(CorpusPrep.bpeEncodeIds(Tables.documents(spark, dir))))
    assert(expected !== clean,
      "dropout encode degenerated to the clean encode on every doc")
    // the dropout dict is a pure function of (artifact, seed): the
    // restarted stream re-derives it bit-equal
    assert(canon(crashAndReplay(dir, leg)) === expected)
  }

  test("every encode leg lands exactly the schema it declares") {
    import graft.ext.TokenizerArtifact
    import org.apache.spark.sql.types.StructType
    import spark.implicits._
    // the schema is a property of the plan, not of the data: a small
    // corpus in the documents shape trains and opens every family
    val docs = Seq(
      (1L, "web", "the quick brown fox jumps over the lazy dog"),
      (2L, "news", "the lazy dog sleeps while the quick fox runs"),
      (3L, "web", "quick brown dogs jump over lazy foxes quickly"))
      .toDF("doc_id", "source", "text")
    assert(TokenizerArtifact.encodeLegs.map(_.gate).distinct.size === 6)
    TokenizerArtifact.encodeLegs.foreach { leg =>
      val art = tempDir(s"graft_${leg.gate}_schema").toString
      leg.write(docs, art)
      val produced = leg.open(spark, art)(docs).schema
      val declared = StructType.fromDDL(leg.landedDdl)
      // nullability is not part of the landed contract: read-back
      // applies the declared (all-nullable) schema
      assert(produced.map(f => f.name -> f.dataType) ===
        declared.map(f => f.name -> f.dataType), leg.gate)
    }
  }

  test("a FAILED major fold costs read fan-in, never correctness; the next trigger recovers") {
    import graft.streaming.StreamingQueries.CompactedState
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import spark.implicits._
    val base = tempDir("graft_state_failfold").toString
    val content = StructType(Seq(StructField("fp", LongType)))
    def histAt(id: Long): Set[Long] =
      CompactedState.read(spark, base, content, id)
        .collect().map(_.getLong(0)).toSet
    // batches 0..3 with cadence 1, major 2: minors every batch and a
    // major trigger at 2 and 3 — but the compact ROOT is occupied by a
    // poison FILE (tests run as root, so permission bits can't block
    // writes; a file where the fold needs a directory fails it on any
    // OS), so the async fold's publish must fail (logged, swallowed)
    val compactDir = new java.io.File(s"$base/compact")
    assert(compactDir.createNewFile())
    (0L to 3L).foreach { id =>
      CompactedState.append(Seq(Tuple1(100L + id)).toDF("fp"), id, base)
      CompactedState.maybeCompact(spark, base, content, id,
        cadence = 1, sortCols = Seq("fp"), majorRuns = 2)
      CompactedState.awaitCompactions(base)
    }
    // no generation ever committed...
    assert(compactDir.isFile,
      "fold must not commit through the poisoned root")
    // ...and every read still sees the COMPLETE history through the
    // surviving runs + deltas — the failure cost fan-in, not data
    assert(histAt(4L) === Set(100L, 101L, 102L, 103L))
    assert(compactDir.delete())
    // recovery: the next cadence trigger majors successfully and GC
    // kicks in; history is unchanged
    CompactedState.append(Seq(Tuple1(104L)).toDF("fp"), 4L, base)
    CompactedState.maybeCompact(spark, base, content, 4L,
      cadence = 1, sortCols = Seq("fp"), majorRuns = 2)
    CompactedState.awaitCompactions(base)
    assert(compactDir.listFiles().exists(_.getName == "gen=4"),
      "the fold must succeed once the root is writable again")
    assert(histAt(5L) === Set(100L, 101L, 102L, 103L, 104L))
  }

  test("CompactedState refuses a state root from a different checkpoint lifecycle") {
    import graft.streaming.StreamingQueries.CompactedState
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import spark.implicits._
    val base = tempDir("graft_state_lifecycle").toString
    val content = StructType(Seq(StructField("fp", LongType)))
    // state from a 'previous life': batch 7's delta is on disk, but
    // the (deleted-and-recreated) checkpoint restarts ids at 0 — an
    // unguarded read would resolve empty history and silently
    // re-admit every historical duplicate
    CompactedState.append(Seq(Tuple1(42L)).toDF("fp"), 7L, base)
    val e = intercept[IllegalArgumentException] {
      CompactedState.read(spark, base, content, 0L).count()
    }
    assert(e.getMessage.contains("live and die together"))
    // the same state is fine from batch 8 onward (one lineage)
    assert(CompactedState.read(spark, base, content, 8L).count() === 1L)
  }

  test("fixture stream directory layout: the FS-probed branch replays to the same result as the single-file fixture") {
    import graft.streaming.StreamingQueries
    val dir = "/root/testdata/sf0.001"
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    val expected = canon(StreamingQueries.replay(spark, dir,
      StreamingQueries.q1DailyUv, Seq("date_str")).orderBy(col("date_str")))
    // the same fixture laid out as a DIRECTORY <dir>/events.parquet/
    // — the layout the Hadoop-FS probe (advisory-r10 hygiene) must
    // route to the directory branch; a java.io.File-style probe gone
    // wrong would read the file branch and fail on a directory path
    val tmp = tempDir("graft_events_dirlayout")
    val evDir = tmp.resolve("events.parquet")
    java.nio.file.Files.createDirectories(evDir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      evDir.resolve("part-00000.parquet"))
    val viaDir = canon(StreamingQueries.replay(spark, tmp.toString,
      StreamingQueries.q1DailyUv, Seq("date_str")).orderBy(col("date_str")))
    assert(viaDir === expected)
  }

  /** Result tables replays have left in the shared replay database. */
  private def replayTables(): Seq[String] = {
    val conn = java.sql.DriverManager.getConnection(StreamingQueries.ReplayDbUrl)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLENAME LIKE 'REPLAY_%'")
      Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toList
    } finally conn.close()
  }

  test("consecutive replays drop their tables from the shared database and return identical rows") {
    val dir = "/root/testdata/sf0.001"
    def run(): Seq[String] = StreamingQueries.replay(spark, dir,
      StreamingQueries.q3UserGmv, Seq("user_id"))
      .collect().map(_.toString).sorted.toSeq
    val first = run()
    val second = run()
    assert(first.nonEmpty)
    assert(second === first)
    assert(replayTables().isEmpty)
  }

  test("a failed replay leaves no table in the shared database") {
    val dir = "/root/testdata/sf0.001"
    // fails while planning, before the sink ever creates its table
    intercept[IllegalStateException] {
      StreamingQueries.replay(spark, dir,
        _ => throw new IllegalStateException("graft-test: build fails"),
        Seq("date_str"))
    }
    assert(replayTables().isEmpty)
    // fails inside the first micro-batch, after the sink created it
    val boom = udf { (x: java.lang.Long) =>
      if (x != null) throw new IllegalStateException("graft-test: batch fails")
      x
    }
    intercept[Exception] {
      StreamingQueries.replay(spark, dir,
        src => StreamingQueries.q1DailyUv(src).withColumn("uv", boom(col("uv"))),
        Seq("date_str"))
    }
    assert(replayTables().isEmpty)
  }

  test("replay gate: the single-partition result sorts with no shuffle exchange, in one job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val gate = StreamingQueries.queries("stream_q3_user_gmv")(
      spark, "/root/testdata/sf0.001")
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graft-test-gate", "gate action")
      try gate.queryExecution.toRdd.count() finally sc.clearJobGroup()
      // listener events arrive in order: once a later marker job has
      // been seen, so has every job of the gate's action
      sc.setJobGroup("graft-test-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("graft-test-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("graft-test-marker"), "listener never saw the marker job")
      val gateJobs = groups.toArray.count(_ == "graft-test-gate")
      assert(gateJobs === 1, s"gate action ran $gateJobs jobs")
    } finally sc.removeSparkListener(listener)
    val plan = gate.queryExecution.executedPlan
    val shuffles = (new AdaptiveSparkPlanHelper {}).collect(plan) {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, s"replay gate shuffles its result:\n$plan")
  }

  test("state compaction: 6-batch run equals the compaction-free run; stale deltas GC'd") {
    import graft.streaming.StreamingQueries
    val dir = "/root/testdata/sf0.001"
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // control arm: cadence 0 — the pre-compaction flat-delta layout
    val ctrlBase = StreamingQueries.prepareDedupStream(spark, dir,
      nBatches = 6, scratch = "stream_dedup_ctrl")
    StreamingQueries.runDedupStream(spark, dir, ctrlBase, compactCadence = 0)
    val expected = canon(StreamingQueries.dedupStreamOutput(spark, ctrlBase))
    // compacting arm: cadence 2 + majorRuns 2 over the same 6 batches
    // — minors at 2 (deltas 0–1) and 4 (deltas 2–3); the second minor
    // reaches the majorRuns threshold, so the async major folds
    // everything < 4 into gen=4 during/after batch 4 (runDedupStream
    // joins it before returning)
    val base = StreamingQueries.prepareDedupStream(spark, dir,
      nBatches = 6, scratch = "stream_dedup_compact6")
    StreamingQueries.runDedupStream(spark, dir, base, compactCadence = 2,
      majorRuns = 2)
    assert(canon(StreamingQueries.dedupStreamOutput(spark, base)) === expected)
    // layout after the run: gen=4 committed; the major's GC removed
    // deltas strictly below its pre-fold boundary (the last minor run
    // BEFORE 4, i.e. 2) — deltas 0 and 1 — while deltas >= 2 survive
    // for batch 4's own replay window; both minor runs survive until
    // the NEXT major's GC (none here)
    assert(new java.io.File(s"$base/state/compact/gen=4").exists())
    assert(new java.io.File(s"$base/state/runs/run=2").exists())
    assert(new java.io.File(s"$base/state/runs/run=4").exists())
    assert(!new java.io.File(s"$base/state/delta/batch_id=0").exists(),
      "delta 0 should be folded into run=2 and GC'd at the gen=4 major fold")
    assert(!new java.io.File(s"$base/state/delta/batch_id=1").exists())
    assert(new java.io.File(s"$base/state/delta/batch_id=2").exists())
    assert(new java.io.File(s"$base/state/delta/batch_id=5").exists())
    // no staging garbage left behind
    assert(!new java.io.File(s"$base/state/compact").listFiles()
      .exists(_.getName.startsWith(".staging_")))
  }

  test("near-dup stream through a major fold on both index roots equals the cadence-0 run") {
    import graft.streaming.StreamingQueries
    val dir = smallFixture
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val ctrlBase = StreamingQueries.prepareDedupStream(spark, dir,
      nBatches = 6, scratch = "stream_neardup_ctrl")
    StreamingQueries.runNearDupStream(spark, dir, ctrlBase,
      compactCadence = 0)
    val expected = canon(StreamingQueries.dedupStreamOutput(spark, ctrlBase))
    assert(expected.size <
      graft.sources.Tables.documents(spark, dir).count(),
      "fixture must exercise the near-dup drop path")
    // cadence 2 + majorRuns 2: minors at 2 and 4 on the band AND the
    // shingle root; the second minor triggers each root's async major
    // gen=4, which runNearDupStream joins before returning
    val base = StreamingQueries.prepareDedupStream(spark, dir,
      nBatches = 6, scratch = "stream_neardup_compact6")
    StreamingQueries.runNearDupStream(spark, dir, base, compactCadence = 2,
      majorRuns = 2)
    assert(canon(StreamingQueries.dedupStreamOutput(spark, base)) === expected)
    assert(new java.io.File(s"$base/bands/compact/gen=4").exists())
    assert(new java.io.File(s"$base/shingles/compact/gen=4").exists())
  }

  test("verification collects are bounded and trip past the cap (r12 #8)") {
    import spark.implicits._
    val df = spark.range(10).toDF("n")
    assert(StreamingQueries.collectVerificationSized(df, maxRows = 20)
      .size === 10)
    val e = intercept[IllegalArgumentException] {
      StreamingQueries.collectVerificationSized(df, maxRows = 5)
    }
    assert(e.getMessage.contains("verification-sized"))
  }

  test("streaming gates compile no new classes on their third evaluation") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = smallFixture
    for (gate <- Seq("stream_q3_user_gmv", "stream_fanout_rollup")) {
      def evaluate(): Long = {
        assert(StreamingQueries.queries(gate)(spark, dir).collect().nonEmpty)
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      }
      evaluate()
      val second = evaluate()
      val third = evaluate()
      assert(third === second, s"$gate compiled ${third - second} classes on its third evaluation")
    }
  }

  test("tasks of the caller's session, a new session and a foreachBatch share one class loader") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val loaderId = udf(() =>
      System.identityHashCode(Thread.currentThread.getContextClassLoader)).asNondeterministic()
    def loaders(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.repartition(4).select(loaderId()).collect().map(_.getInt(0)).toSet
    val caller = loaders(spark.range(16).toDF())
    val fresh = loaders(spark.newSession().range(16).toDF())
    val inBatch = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val in = MemoryStream[Long]
    val q = in.toDF().writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        loaders(batch).foreach(inBatch.add)
    }.start()
    try {
      in.addData(0L until 16L)
      q.processAllAvailable()
    } finally q.stop()
    assert(caller.size === 1, s"caller's tasks ran under ${caller.size} class loaders")
    assert(fresh === caller)
    assert(inBatch.asScala.toSet === caller)
  }

  test("a replay never writes its caller's session conf") {
    val key = "spark.sql.shuffle.partitions"
    val dir = smallFixture
    val caller = spark.newSession()
    // any value but the replay's own count, so a write would show
    val mine = (math.min(8, spark.sparkContext.defaultParallelism) + 3).toString
    caller.conf.set(key, mine)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var running = true
    val poller = new Thread(() =>
      while (running) {
        seen.add(caller.conf.get(key))
        java.util.concurrent.locks.LockSupport.parkNanos(100000L)
      })
    poller.start()
    val (upserted, appended) = try {
      (StreamingQueries.replay(caller, dir, StreamingQueries.q3UserGmv, Seq("user_id")).count(),
        StreamingQueries.replayAppendFlush(caller, dir, StreamingQueries.qSessions).count())
    } finally { running = false; poller.join() }
    assert(upserted > 0 && appended > 0)
    assert(seen.asScala.toSet === Set(mine))
  }

  test("replays report to the caller's query listeners and leave none behind on the context") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    // the context's listener bus is internal; count its listeners by type
    def streamBuses(): Int = {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("listeners").invoke(bus)
        .asInstanceOf[java.util.List[AnyRef]].asScala
        .count(_.getClass.getSimpleName == "StreamingQueryListenerBus")
    }
    // listener events arrive asynchronously
    def eventually(ok: => Boolean): Boolean = {
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!ok && System.nanoTime() < deadline) Thread.sleep(20)
      ok
    }
    val dir = smallFixture
    val caller = spark.newSession()
    val progressed = new java.util.concurrent.atomic.AtomicInteger()
    caller.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) progressed.incrementAndGet()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val before = streamBuses()
    StreamingQueries.replay(caller, dir, StreamingQueries.q4ChannelGmv, Seq("channel_id"))
    assert(eventually(progressed.get > 0), "the caller's listener saw no replay progress")
    for (_ <- 1 to 3) {
      StreamingQueries.replay(caller, dir, StreamingQueries.q4ChannelGmv, Seq("channel_id"))
      StreamingQueries.replayComplete(caller, dir, StreamingQueries.qSessions)
    }
    assert(eventually(streamBuses() == before), s"${streamBuses()} listener buses, $before before")
  }

}
