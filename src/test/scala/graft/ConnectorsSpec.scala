package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.OrderGen
import graft.ops.SkewJoin
import graft.sources.{Connectors, Tables}

/** A record shaped exactly like one row of the Kafka connector's fixed
  * output relation (kafka source docs: key/value binary, topic string,
  * partition int, offset long, timestamp timestamp, timestampType int).
  * Used to drive the consume chain with connector-schema micro-batches
  * in the zero-egress sandbox, where the connector jar and a broker do
  * not exist.
  */
case class KafkaWire(key: Array[Byte], value: Array[Byte], topic: String,
  partition: Int, offset: Long, timestamp: java.sql.Timestamp,
  timestampType: Int)

/** Connector/storage/skew surface: everything runnable offline runs
  * for real; network connectors are checked at the SQL/wire level.
  */
class ConnectorsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("graft-conn-test")
  val dir = "/root/testdata/sf0.001"

  test("mysql upsert SQL matches the PK-upsert contract") {
    val sql = Connectors.mysqlUpsertSql("cumulative",
      Seq("dt", "uv", "buy_cnt", "amount"), Seq("dt"))
    assert(sql === "INSERT INTO cumulative (dt, uv, buy_cnt, amount) VALUES (?, ?, ?, ?)" +
      " ON DUPLICATE KEY UPDATE uv = VALUES(uv), buy_cnt = VALUES(buy_cnt), amount = VALUES(amount)")
  }

  test("mysql upsert dialect EXECUTES end-to-end; parity with the Derby dialect") {
    import spark.implicits._
    import graft.streaming.JdbcUpsertSink
    MysqlMock.ensureRegistered()
    MysqlMock.clear("upsert_exec")
    // the sink's real executor-side path (foreachPartition, prepared-
    // statement batches) through the ON DUPLICATE KEY branch, against
    // the emulated MySQL endpoint — batch 2 overlaps batch 1's keys so
    // both the insert and the duplicate-key update legs execute
    val my = new JdbcUpsertSink(s"${MysqlMock.Prefix}upsert_exec",
      "res", Seq("user_id"), dialect = "mysql")
    val b1 = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("user_id", "amount")
    val b2 = Seq((2L, 25.0), (3L, 35.0), (4L, 45.0)).toDF("user_id", "amount")
    my.apply(b1, 0L)
    my.apply(b2, 1L)
    my.apply(b2, 1L) // replayed epoch: at-least-once channel, no-op
    def viaMock = MysqlMock.db("upsert_exec")("res").rows
      .map { case (k, v) =>
        k.head.asInstanceOf[Long] -> v(1).asInstanceOf[Double] }.toMap
    assert(viaMock === Map(1L -> 10.0, 2L -> 25.0, 3L -> 35.0, 4L -> 45.0))
    // parity: the portable Derby dialect lands the same final state
    // from the same batch sequence
    val derby = new JdbcUpsertSink(
      "jdbc:derby:memory:mysqlparity;create=true", "res", Seq("user_id"))
    derby.apply(b1, 0L); derby.apply(b2, 1L); derby.apply(b2, 1L)
    val viaDerby = derby.toDF(spark).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("amount")).toMap
    assert(viaMock === viaDerby)
    try java.sql.DriverManager
      .getConnection("jdbc:derby:memory:mysqlparity;drop=true")
    catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }
  }

  test("kafka wire decode: generated JSON orders round-trip through the consumer path") {
    val wire = OrderGen.ordersJson(spark, 500)
    val decoded = Connectors.kafkaWireDecode(wire)
    assert(decoded.count() === 500)
    assert(decoded.columns.toSet ===
      Set("order_id", "user_id", "order_tz", "amount", "currency", "channel_id", "order_time", "ts"))
    // schema-on-read: all fields non-null after JSON decode
    assert(decoded.filter(col("order_id").isNull || col("ts").isNull).count() === 0)
  }

  test("kafka wire SCHEMA: binary connector-shaped records stream through the consume chain") {
    // The strongest executable statement about wireStream's kafka
    // branch in this sandbox (no spark-sql-kafka jar, no broker, zero
    // egress): a real micro-batch stream whose rows carry the
    // connector's exact output schema — binary value included — driven
    // through the SAME `select(value) → kafkaWireDecode` chain the
    // kafka case uses after `.load()`. Closes the one branch the
    // format=text e2e could not reach: BINARY value → cast(string) →
    // from_json under a streaming watermark.
    import spark.implicits._
    import org.apache.spark.sql.types._
    implicit val sqlCtx = spark.sqlContext
    val jsons = OrderGen.ordersJson(spark, 300).as[String].collect().toSeq
    val wire = jsons.zipWithIndex.map { case (v, i) =>
      KafkaWire(s"k$i".getBytes("UTF-8"), v.getBytes("UTF-8"),
        "user_behavior", i % 3, i.toLong,
        new java.sql.Timestamp(1704067200000L + i * 1000L), 0)
    }
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[KafkaWire]
    // the stream's relation IS the connector's fixed schema (names +
    // types; nullability is encoder-dependent and not part of the pin)
    val kafkaConnectorSchema = Seq(
      "key" -> BinaryType, "value" -> BinaryType, "topic" -> StringType,
      "partition" -> IntegerType, "offset" -> LongType,
      "timestamp" -> TimestampType, "timestampType" -> IntegerType)
    assert(in.toDF().schema.fields.map(f => f.name -> f.dataType).toSeq
      === kafkaConnectorSchema)
    val decoded = Connectors.kafkaWireDecode(in.toDF().select(col("value")))
    val q = decoded.writeStream.format("memory")
      .queryName("kafka_wire_schema_decode").outputMode("append").start()
    in.addData(wire.take(150)); q.processAllAvailable()
    in.addData(wire.drop(150)); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("kafka_wire_schema_decode")
    val batch = OrderGen.decodeJson(jsons.toDF("value"))
    assert(streamed.count() === 300)
    assert(streamed.exceptAll(batch).count() === 0
      && batch.exceptAll(streamed).count() === 0)
  }

  test("bucketed ORC table: write, catalog metadata, read back, bucket pruning shape") {
    val orders = OrderGen.orders(spark, 2000)
    Connectors.writeBucketedOrc(orders, "user_behavior_test", "order_id", buckets = 2)
    val back = spark.table("user_behavior_test")
    assert(back.count() === 2000)
    val cat = spark.sql("DESCRIBE EXTENDED user_behavior_test").collect()
      .map(r => r.getString(0) + " " + r.getString(1)).mkString("\n")
    assert(cat.contains("Num Buckets 2"), s"not bucketed:\n$cat")
    assert(cat.contains("orc") || cat.contains("Orc") || cat.contains("ORC"))
    spark.sql("DROP TABLE user_behavior_test")
  }

  test("bucketed tables join without a shuffle exchange (co-located join)") {
    import graft.sources.Connectors
    val orders = OrderGen.orders(spark, 5000)
    val payments = OrderGen.orders(spark, 5000)
      .select(col("order_id"), (col("amount") * 2).as("paid"))
    Seq("bk_orders", "bk_payments").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      loc.getFileSystem(spark.sessionState.newHadoopConf()).delete(loc, true)
    }
    // both sides bucketed on the join key at write time: the join
    // plan must read buckets directly, with no Exchange on either side
    orders.write.mode("overwrite").bucketBy(4, "order_id")
      .sortBy("order_id").format("parquet").saveAsTable("bk_orders")
    payments.write.mode("overwrite").bucketBy(4, "order_id")
      .sortBy("order_id").format("parquet").saveAsTable("bk_payments")
    // force a merge join (broadcast would hide the bucketing story)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bk_orders")
        .join(spark.table("bk_payments"), "order_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join should have no shuffle:\n$plan")
      assert(joined.count() === 5000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE bk_orders"); spark.sql("DROP TABLE bk_payments")
    }
  }

  test("salted join equals plain join (skew mitigation is semantics-free)") {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey", "l_quantity")
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plain = li.join(ord, "l_orderkey")
    val salted = SkewJoin.saltedJoin(li, ord, "l_orderkey",
      buckets = 8, saltSource = Seq("l_orderkey", "l_partkey", "l_quantity"))
    assert(salted.count() === plain.count())
    assert(salted.select(li.columns.map(col): _*).except(
      plain.select(li.columns.map(col): _*)).count() === 0)
  }

  test("jdbc batch sink + partitioned source execute for real against embedded Derby") {
    val url = "jdbc:derby:memory:graftbatch;create=true"
    val props = new java.util.Properties()
    val orders = OrderGen.orders(spark, 1000)
      .select("order_id", "user_id", "amount", "channel_id")

    // overwrite, then append — both real executions of the batch sink
    // (append subset pinned by key order: LIMIT alone is not
    // deterministic across evaluations)
    val appendPart = orders.orderBy("order_id").limit(200)
    Connectors.jdbcSink(orders, url, "orders_jdbc",
      org.apache.spark.sql.SaveMode.Overwrite, props)
    Connectors.jdbcSink(appendPart, url, "orders_jdbc",
      org.apache.spark.sql.SaveMode.Append, props)

    // the mandatory-partitioned read: 4 concurrent range scans, not
    // the reference's single-connection full-table read
    val back = Connectors.jdbcSource(spark, url, "orders_jdbc",
      partitionColumn = "order_id",
      lowerBound = 1L, upperBound = 1000L, numPartitions = 4,
      user = "", password = "")
    assert(back.rdd.getNumPartitions === 4)
    assert(back.count() === 1200)
    val expect = orders.union(appendPart)
      .groupBy().agg(sum("amount")).collect()(0).getLong(0)
    assert(back.groupBy().agg(sum("amount")).collect()(0).getLong(0) === expect)
  }
}
