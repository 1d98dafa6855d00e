package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{EventQueries, StarQueries}

/** Smoke + semantic checks on sf0.001 (t1 tier). The full DuckDB
  * hash-match gate runs driver-side at sf0.01; these tests assert the
  * invariants that don't need an external oracle.
  */
class QueriesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local("graft-test")
  val dir = "/root/testdata/sf0.001"

  test("every registered query executes and is non-empty on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("every query with an oracle has matching column names") {
    // The driver compare sorts columns by name — a rename mismatch
    // between queries and oracleSql is the most likely silent failure.
    val qs = SparkEntry.queries
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(qs.contains(k), s"oracle $k has no query")
    }
  }

  test("SPARK_GRAFT_ONLY selection: an exact gate name selects only itself, other tokens are substrings") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    def pick(only: String) = names.filter(SparkEntry.gateSelector(Some(only)))
    assert(names.filter(SparkEntry.gateSelector(None)) === names)
    assert(pick("dedup_components") === Seq("dedup_components"))
    assert(pick("dedup_components_incremental") === Seq("dedup_components_incremental"))
    val dedup = pick("dedup_")
    assert(dedup.contains("dedup_components") && dedup.contains("dedup_components_incremental"))
    assert(dedup === names.filter(_.contains("dedup_")))
    assert(pick("graph_pagerank,dedup_components_incr") ===
      Seq("dedup_components_incremental", "graph_pagerank"))
    assert(pick("no_such_gate").isEmpty)
  }

  test("q1 uv never exceeds total event count per day") {
    import org.apache.spark.sql.functions._
    val q1 = EventQueries.q1DailyUvGmv(spark, dir)
    val perDay = graft.sources.Tables.events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("date_str"))
      .agg(count(lit(1)).as("n"))
    val joined = q1.join(perDay, "date_str")
    assert(joined.filter(col("uv") > col("n")).count() === 0)
  }

  test("q5/q6 two-phase rollup equals single-pass countDistinct") {
    import org.apache.spark.sql.functions._
    val q6 = EventQueries.q6TrailingRollup(spark, dir)
    val direct = graft.sources.Tables.events(spark, dir)
      .filter(col("ts") >= to_timestamp(lit("2024-01-30 00:00:00")))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("dt"))
      .agg(countDistinct(col("user_id")).as("uv2"),
        count(lit(1)).as("cnt2"))
    val j = q6.join(direct, "dt")
    assert(j.filter(col("uv") =!= col("uv2") || col("buy_cnt") =!= col("cnt2")).count() === 0)
  }

  test("top customers limit honored and sorted") {
    val rows = StarQueries.topCustomers(spark, dir).collect()
    assert(rows.length === 10)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.sameElements(revs.sortBy(-_)))
  }

  test("anti join + semi join partition the customer table") {
    import org.apache.spark.sql.functions._
    val cust = graft.sources.Tables.customer(spark, dir)
    val urgent = graft.sources.Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
    val anti = cust.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti").count()
    val semi = cust.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi").count()
    assert(anti + semi === cust.count())
  }

  test("entry flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("gap-fill spine is dense, cumulative is monotone, and totals match") {
    import org.apache.spark.sql.functions._
    val gf = graft.queries.WindowQueries.gapFillMinutes(spark, dir)
    val rows = gf.collect()
    val ev = graft.sources.Tables.events(spark, dir)
    // total of per-minute counts == total events; last cum == total
    assert(rows.map(_.getAs[Long]("n")).sum === ev.count())
    assert(rows.last.getAs[Long]("cum_n") === ev.count())
    // dense: row count == minutes between min and max inclusive
    val b = ev.agg(
      (floor(unix_timestamp(max(col("ts"))) / 60) -
        floor(unix_timestamp(min(col("ts"))) / 60) + 1).as("mins"))
      .collect()(0).getAs[Long]("mins")
    assert(rows.length.toLong === b)
    // monotone non-decreasing cumulative
    val cums = rows.map(_.getAs[Long]("cum_n"))
    assert(cums.zip(cums.tail).forall { case (a, c) => c >= a })
  }

  test("pivot row sums equal unpivoted daily counts") {
    import org.apache.spark.sql.functions._
    val p = graft.queries.ExtraQueries.pivotTypeDaily(spark, dir)
    val rowSum = graft.queries.ExtraQueries.EventTypes
      .map(col).reduce(_ + _)
    val daily = graft.sources.Tables.events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("date_str"))
      .agg(count(lit(1)).as("n"))
    assert(p.withColumn("s", rowSum).join(daily, "date_str")
      .filter(col("s") =!= col("n")).count() === 0)
  }

  test("salted join result is identical to the plain join") {
    import org.apache.spark.sql.functions._
    val viaSalt = graft.queries.ExtraQueries.skewJoinSegment(spark, dir)
    val plain = graft.sources.Tables.events(spark, dir)
      .join(graft.sources.Tables.customer(spark, dir),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
    assert(viaSalt.except(plain).isEmpty && plain.except(viaSalt).isEmpty)
  }

  test("full outer activity keeps both unmatched legs") {
    import org.apache.spark.sql.functions._
    val fo = graft.queries.ExtraQueries.fullOuterActivity(spark, dir)
    assert(fo.filter(col("n_clicks") === 0 && col("n_purchases") > 0).count() > 0)
    assert(fo.filter(col("n_purchases") === 0 && col("n_clicks") > 0).count() > 0)
    assert(fo.filter(col("n_clicks") === 0 && col("n_purchases") === 0).count() === 0)
  }

  test("cross join pairs: exactly n*(n-1)/2 ordered pairs") {
    val n = graft.sources.Tables.nation(spark, dir).count()
    assert(graft.queries.ExtraQueries.crossNationPairs(spark, dir).count()
      === n * (n - 1) / 2)
  }

  test("lead/lag gaps telescope: sum of gaps = last ts - first ts per user") {
    import org.apache.spark.sql.functions._
    val gaps = graft.queries.WindowQueries.leadLagGaps(spark, dir)
    val span = graft.sources.Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg((max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
        .as("span_us"))
    assert(gaps.join(span, "user_id")
      .filter(col("sum_gap_us") =!= col("span_us")).count() === 0)
    assert(gaps.filter(col("max_gap_us") < 0).count() === 0)
  }

  test("grouping sets = union of the two independent rollups") {
    import org.apache.spark.sql.functions._
    val gs = StarQueries.groupingSetsMix(spark, dir)
    val nNations = gs.filter(col("g_nation") === 0).count()
    val nSegments = gs.filter(col("g_segment") === 0).count()
    assert(gs.count() === nNations + nSegments)
    // each row belongs to exactly one set
    assert(gs.filter(col("g_nation") + col("g_segment") =!= 1).count() === 0)
    // per-set customer totals both equal the full join count
    val total = gs.filter(col("g_nation") === 0)
      .agg(sum("n_customers")).collect()(0).getLong(0)
    val total2 = gs.filter(col("g_segment") === 0)
      .agg(sum("n_customers")).collect()(0).getLong(0)
    assert(total === total2)
  }
}
