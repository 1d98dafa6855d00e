package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType, TimestampType}

/** Streaming twins of the reference's four Flink SQL queries
  * (Q1–Q4, `doc/temp.md:375-411`), as Structured Streaming pipelines
  * over any streaming DataFrame with the event shape
  * `(ts TIMESTAMP, user_id LONG, value DOUBLE, event_type STRING)` —
  * the same shape [[graft.queries.EventQueries]] uses in batch, so
  * stream≡batch consistency is directly testable.
  *
  * Watermark: 5 seconds, matching the reference's
  * `WATERMARK FOR ts AS ts - INTERVAL '5' SECOND` (`doc/temp.md:303`).
  *
  * Output modes mirror Flink's sink semantics (SURVEY.md §2.9):
  *  - Q2 (windowed) → `append`: a window emits once, when the
  *    watermark passes its end; later rows are dropped — Flink's
  *    default behavior for a closed window.
  *  - Q1/Q3/Q4 (unbounded aggs) → `update`: each micro-batch emits
  *    changed keys; the PK upsert sink ([[UpsertSink]]) absorbs them
  *    exactly as the reference's MySQL `PRIMARY KEY` tables do.
  *
  * Scale notes: state for Q1's exact distinct grows with
  * |days × users| — bounded and small. The aggregations are
  * keyed-state streaming aggs: partial aggregation happens per
  * micro-batch task before the keyed shuffle, identical to the batch
  * plan shape. At production scale the state store moves to RocksDB
  * (`spark.sql.streaming.stateStore.providerClass`) with no code
  * change.
  */
object StreamingQueries {

  /** Q1a — per-day exact distinct UV, streaming.
    *
    * `COUNT(DISTINCT)` is disallowed in streaming (SURVEY.md §7.5);
    * the scalable equivalent: watermarked `dropDuplicates` on
    * (day, user) — state holds one entry per distinct pair — then a
    * running count per day. Update mode.
    */
  def q1DailyUv(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "5 seconds")
      .select(col("ts"), date_format(col("ts"), "yyyy-MM-dd").as("date_str"),
        col("user_id"))
      .dropDuplicates("date_str", "user_id")
      .groupBy(col("date_str"))
      .agg(count(lit(1)).as("uv"))

  /** Q1b — per-day GMV + latest time-of-day, streaming (must NOT be
    * deduplicated, hence a separate aggregation from Q1a; the sink
    * merges both under the same `date_str` key — the dual-state plan
    * from SURVEY.md §7.5).
    */
  def q1DailyGmv(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "5 seconds")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("date_str"))
      .agg(round(sum(col("value")), 2).as("payment"),
        max(date_format(col("ts"), "HH:mm")).as("time_str"))

  /** Q2 — orders per 1-minute tumbling event-time window, append mode
    * (`doc/temp.md:390-394`): emits a row once per closed window;
    * rows later than watermark past window end are dropped.
    */
  def q2PerMinute(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("buy_cnt"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("min_of_day"),
        col("buy_cnt"))

  /** Q3 — running GMV per user (`doc/temp.md:398-402`), update mode. */
  def q3UserGmv(stream: DataFrame): DataFrame =
    stream.groupBy(col("user_id"))
      .agg(round(sum(col("value")), 2).as("amount"))

  /** Q4 — running GMV per channel (`doc/temp.md:405-410`), update mode. */
  def q4ChannelGmv(stream: DataFrame): DataFrame =
    stream.groupBy(col("event_type").as("channel_id"))
      .agg(round(sum(col("value")), 2).as("amount"))

  /** Session windows per user, streaming (30-minute inactivity gap) —
    * the streaming twin of [[graft.queries.WindowQueries.userSessions]].
    * `session_window` keeps per-user open-session state; out-of-order
    * rows within the watermark merge into (or bridge) existing
    * sessions, and a session closes when the watermark passes its end
    * plus the gap. Same projection as the batch form, so the replay
    * gate shares the batch gaps-and-islands oracle.
    */
  def qSessions(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "5 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("session_value"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("session_value"))

  /** Streaming exact dedup for a training-data pipeline: drop rows
    * whose `keys` were already seen, holding state only within the
    * watermark delay (`dropDuplicatesWithinWatermark`) — the
    * bounded-state form of streaming dedup. Plain `dropDuplicates`
    * on a stream keeps every key forever (state = |distinct keys|);
    * the within-watermark form evicts keys once the watermark passes,
    * which is the only shape that survives an unbounded 100 TB/day
    * ingest where duplicates arrive close together (retries,
    * at-least-once sources) rather than arbitrarily far apart.
    */
  def dedupWithinWatermark(stream: DataFrame, keys: Seq[String],
      delay: String = "5 seconds"): DataFrame =
    stream.withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Ingestion path (reference entry point C, SURVEY.md §3.3): one
    * Structured Streaming hop replaces generator→Kafka→Flume→Hive.
    * Exactly-once via checkpoint WAL instead of Hive ACID
    * transactions; bucketed-ORC at rest becomes partitioned parquet.
    */
  def ingest(stream: DataFrame, outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream
      .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("event_date")
      .outputMode("append")
      .start()

  /** Stream-stream interval join: purchases joined to the same user's
    * clicks from the preceding `window` — sessions-to-conversion
    * attribution, the canonical stream-stream join shape. Both sides
    * carry watermarks; the time-range condition bounds each side's
    * join state (Spark evicts rows once the other side's watermark
    * passes the interval), so state stays O(window × rate), not
    * O(stream).
    */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame,
      window: String = "10 minutes"): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "5 seconds")
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "5 seconds")
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $window"))
      .select(col("p_user").as("user_id"), col("purchase_ts"),
        col("click_ts"), col("purchase_value"))
  }

  /** LEFT OUTER stream-stream interval join: every purchase emits,
    * null-padded when no click preceded it within the window. The
    * hard semantics live in the state store: an unmatched purchase
    * cannot emit until the CLICK-side watermark has passed the end of
    * its match window (only then is "no click will ever arrive"
    * certain), so null-padded rows trail the inner rows by up to
    * window+lateness — the eventual-completeness contract
    * StreamingSpec pins against the batch left join. Both sides need
    * a watermark AND the time-range conjunct; without them the state
    * store could never evict (Spark rejects the query).
    */
  def clickToPurchaseOuter(clicks: DataFrame, purchases: DataFrame,
      window: String = "10 minutes"): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "5 seconds")
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "5 seconds")
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $window"),
      "leftOuter")
      .select(col("p_user").as("user_id"), col("purchase_ts"),
        col("click_ts"), col("purchase_value"))
  }

  /** Gate window for [[streamJoinAttrib]] — wide enough that the
    * fixture's per-user click→purchase density yields a real result
    * set (a 10-minute window matches single digits at sf0.01); the
    * state-bound story is identical at any width: O(window × rate),
    * never O(stream). Interpolated into the oracle. */
  val AttribWindowHours = 4

  /** Stream-stream interval-join GATE: the fixture replayed as two
    * streams — the click side and the purchase side are two filters
    * of the shared wire source, a streaming self-join — attributed
    * through [[clickToPurchase]] and landed append-mode through the
    * real executor-side upsert sink. An INNER interval join emits on
    * match (no watermark-finalization wait, unlike the left-outer
    * twin StreamingSpec pins), so after `processAllAvailable` the
    * landed set equals the batch interval join the DuckDB oracle
    * runs. Timestamps cross the gate as `unix_micros` BIGINTs — the
    * established `epoch_us` parity discipline, and the natural PK
    * (fixture µs timestamps are collision-free per user, so the
    * upsert key (user, purchase_us, click_us) is exact).
    *
    * That collision-freedom is a FIXTURE PROPERTY the upsert key
    * depends on — two clicks by one user in the same microsecond
    * would collapse two genuinely distinct join matches into one
    * upserted row while the batch oracle emits both. So the gate
    * ASSERTS it (one cheap count-vs-distinct aggregate over the two
    * relevant event types) instead of trusting a Scaladoc comment:
    * a future fixture regeneration that breaks the assumption fails
    * loudly here, not as a silent row-count mismatch.
    */
  def streamJoinAttrib(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
    val u = ev.agg(count(lit(1)).as("n"),
      countDistinct(col("user_id"), col("event_type"), col("ts")).as("d"))
      .head()
    require(u.getLong(0) == u.getLong(1),
      s"stream_join_attrib upsert key assumes (user_id, event_type, ts) " +
        s"unique in the fixture; got ${u.getLong(0)} rows vs " +
        s"${u.getLong(1)} distinct — regenerated fixture broke the PK")
    replay(spark, dir,
      src => clickToPurchase(
          src.filter(col("event_type") === "click"),
          src.filter(col("event_type") === "purchase"),
          window = s"$AttribWindowHours hours")
        .select(col("user_id"),
          unix_micros(col("purchase_ts")).as("purchase_us"),
          unix_micros(col("click_ts")).as("click_us"),
          col("purchase_value")),
      keys = Seq("user_id", "purchase_us", "click_us"),
      outputMode = "append")
      .orderBy(col("user_id"), col("purchase_us"), col("click_us"))
  }

  /** Idempotent per-batch landing: the micro-batch lands under
    * `path/batch_id=<id>` via dynamic partition overwrite, so a
    * REPLAYED batch (failure → restart re-delivers the epoch)
    * replaces its own partition instead of appending duplicates —
    * exactly-once at rest from at-least-once delivery, the same
    * epoch-idempotence contract the JDBC upsert sink keys on PKs.
    */
  def writeBatchIdempotent(df: DataFrame, batchId: Long, path: String): Unit =
    graft.ext.Layout.upsertPartitions(
      df.withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId)),
      path, partitionCols = Seq("batch_id"), sortCols = Seq.empty)

  /** Compacted append-only streaming state index — closing the one
    * scale term the incremental dedup streams left unbounded (VERDICT
    * r8 item 3), with the fold cost moved OFF the per-batch hot path
    * (VERDICT r9 item 1: the round-9 single-level design folded the
    * FULL state synchronously inside foreachBatch every `cadence`
    * batches, so the compacting batch stalled for a state-proportional
    * rewrite). The index root is a two-level LSM:
    *
    *   `<root>/delta/batch_id=N` — per-batch appends (the unchanged
    *                               idempotent write path)
    *   `<root>/runs/run=R`       — MINOR fold: the ≤cadence deltas
    *                               since the previous fold boundary,
    *                               written synchronously DURING batch
    *                               R — cost ∝ cadence·batch size,
    *                               flat in state size
    *   `<root>/compact/gen=G`    — MAJOR fold: all state < G in one
    *                               generation, folded on a BACKGROUND
    *                               thread once `majorRuns` minor runs
    *                               accumulate — state-proportional
    *                               work the batch never waits for
    *
    * [[read]] for batch `id` resolves G = max gen < id and returns
    * gen(G) ∪ runs(G, id) ∪ deltas[b, id) with b = max(G, last run):
    * per-batch read cost is ONE generation + ≤majorRuns run dirs +
    * ≤cadence delta dirs — flat in batch count. Every input is read
    * by EXPLICIT partition path from an FS listing (never
    * root-scan + filter), so a partially-written crash leftover is
    * structurally invisible. The strict `< id` rule on gens, runs AND
    * deltas keeps batch id's own (possibly mid-crash) partitions out
    * of its replay; anything < id crossed its epoch commit before
    * batch id started, so everything a read can select is complete
    * by construction.
    *
    * Fold commits are ATOMIC-PUBLISH: the fold writes to a
    * `.staging_*` directory and renames it into place — a committed
    * dir is complete, a crashed attempt leaves only swept staging
    * garbage, and a replayed fold skips when its target already
    * exists. No fold input path is ever also a write root (the r9
    * advisory's dynamic-overwrite dependency is gone, not guarded).
    *
    * Concurrency: one in-flight major per root ([[inflight]]); ALL
    * garbage collection happens inside the major fold, and it deletes
    * only strictly below the previous generation/boundary — levels no
    * concurrent or replaying read can resolve (reads' boundaries only
    * grow), so reader/GC races are impossible by construction rather
    * than by locking. [[awaitCompactions]] joins in-flight folds at
    * stream shutdown so gates and specs observe a quiesced
    * layout.
    *
    * At 100 TB the generation write is where the index acquires its
    * join-key layout (`sortCols` — band/band_key for the band index,
    * doc_id for shingles) and its write parallelism (repartition on
    * the sort keys — the r9 fold repartitioned on the CONSTANT gen
    * column, a hidden single-task full-state write), so each ingest's
    * probe build reads one layout-friendly table instead of 10⁴
    * appendlets.
    */
  object CompactedState {

    /** Minor runs per major fold: the full-state rewrite happens every
      * `majorRuns · cadence` batches, off-thread; reads touch at most
      * this many run dirs. */
    val DefaultMajorRuns = 4

    /** Partition-dir names under `path` with the given `key=` prefix,
      * via the Hadoop FS API — a `java.io.File` listing would be
      * local-FS only and silently return empty on a cluster
      * filesystem (reads would fall back to the uncompacted delta
      * scan and GC would never fire: correct, but the compaction
      * would be a no-op exactly where it matters). Non-numeric
      * suffixes (staging dirs, foreign leftovers) are skipped, not
      * parsed. */
    private def partitionIds(spark: SparkSession, path: String,
        key: String): Seq[Long] = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith(key))
        .map(_.stripPrefix(key)).filter(_.matches("-?\\d+")).map(_.toLong)
    }

    /** Generation list from dir names; complete-by-construction for
      * every entry a `read(id)` can select (atomic rename publish). */
    private def gens(spark: SparkSession, base: String): Seq[Long] =
      partitionIds(spark, s"$base/compact", "gen=")

    private def runIds(spark: SparkSession, base: String): Seq[Long] =
      partitionIds(spark, s"$base/runs", "run=")

    private def deltaIds(spark: SparkSession, base: String): Seq[Long] =
      partitionIds(spark, s"$base/delta", "batch_id=")

    /** Union of explicitly-listed partition dirs with the KNOWN
      * content schema (empty frame when nothing is listed — the same
      * no-inference rule as [[graft.ext.Layout.readBack]]). */
    private def readDirs(spark: SparkSession, content: StructType,
        paths: Seq[String]): DataFrame =
      if (paths.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], content)
      else spark.read.schema(content).parquet(paths: _*)
        .select(content.fieldNames.map(col).toIndexedSeq: _*)

    /** All state rows from batches strictly before `id`: the newest
      * generation below `id`, the runs after it and the deltas since
      * the last fold boundary. Returns exactly the `content` columns. */
    def read(spark: SparkSession, base: String,
        content: StructType, id: Long): DataFrame = {
      // lifecycle guard: batch ids restart at 0 if the CHECKPOINT is
      // deleted while the state root survives — the stale state would
      // then silently read as empty history (every G resolves below
      // the restarted ids) and the stream would re-admit every
      // historical duplicate. In one checkpoint lineage no on-disk
      // generation, run or delta can sit ABOVE the current batch id
      // (reads run at batch start; a crash replay leaves at most
      // id's own == id partitions), so anything > id can only mean
      // the mismatch: fail fast instead of deduping against nothing.
      val (allGens, allRuns, allDeltas) =
        (gens(spark, base), runIds(spark, base), deltaIds(spark, base))
      val futureGens = allGens.filter(_ > id)
      val futureRuns = allRuns.filter(_ > id)
      val futureDeltas = allDeltas.filter(_ > id)
      require(futureGens.isEmpty && futureRuns.isEmpty &&
          futureDeltas.isEmpty,
        s"state root $base holds partitions beyond batch $id " +
          s"(generations ${futureGens.sorted.mkString(",")}; runs " +
          s"${futureRuns.sorted.mkString(",")}; deltas " +
          s"${futureDeltas.sorted.mkString(",")}) — the checkpoint and " +
          "the state index must live and die together")
      val g = allGens.filter(_ < id).maxOption
      val rs = allRuns.filter(r => r < id && g.forall(r > _)).sorted
      val b = (g.toSeq ++ rs).maxOption.getOrElse(-1L)
      val ds = allDeltas.filter(d => d < id && d >= b).sorted
      readDirs(spark, content,
        g.map(n => s"$base/compact/gen=$n").toSeq ++
          rs.map(n => s"$base/runs/run=$n") ++
          ds.map(n => s"$base/delta/batch_id=$n"))
    }

    /** Per-batch delta landing — [[writeBatchIdempotent]] under the
      * index root, unchanged semantics. */
    def append(df: DataFrame, id: Long, base: String): Unit =
      writeBatchIdempotent(df, id, s"$base/delta")

    /** Atomic-publish fold write: sort-keyed parallel parquet into a
      * staging dir, then one FS rename to `target`. Skips when the
      * target already exists — a committed fold is complete (rename
      * is the commit point), so a replayed trigger has nothing to
      * redo. */
    private def publishFold(df: DataFrame, sortCols: Seq[String],
        target: String): Unit = {
      val spark = df.sparkSession
      val fs = new org.apache.hadoop.fs.Path(target)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val tPath = new org.apache.hadoop.fs.Path(target)
      if (fs.exists(tPath)) return
      val staging = new org.apache.hadoop.fs.Path(
        tPath.getParent, s".staging_${tPath.getName.replace('=', '_')}")
      fs.delete(staging, true)
      val laid =
        if (sortCols.nonEmpty)
          df.repartition(sortCols.map(col): _*)
            .sortWithinPartitions(sortCols.map(col): _*)
        else df
      laid.write.mode("overwrite").parquet(staging.toString)
      fs.mkdirs(tPath.getParent)
      require(fs.rename(staging, tPath) || fs.exists(tPath),
        s"fold publish rename $staging -> $tPath failed")
    }

    /** In-flight major folds, one per state root; values are the
      * background threads so shutdown can join them. */
    private val inflight =
      new java.util.concurrent.ConcurrentHashMap[String, Thread]()

    /** Join any in-flight major fold whose state root starts with
      * `prefix` (a run's scratch base covers all its roots). The join
      * is BOUNDED (advisory r10): a wedged filesystem call inside the
      * background fold must not hang stream shutdown, gates and specs
      * forever — correctness never depends on the fold completing
      * (reads fall back to the previous generation + runs), so on
      * timeout we log and leave the daemon thread behind. */
    val AwaitCompactionMs = 120000L

    def awaitCompactions(prefix: String,
        timeoutMs: Long = AwaitCompactionMs): Unit = {
      import scala.jdk.CollectionConverters._
      inflight.asScala.toSeq.collect {
        case (root, t) if root.startsWith(prefix) =>
          t.join(timeoutMs)
          if (t.isAlive)
            System.err.println(s"[compacted-state] major fold at $root " +
              s"still running after ${timeoutMs} ms — abandoning the " +
              "daemon thread (state stays on the previous generation)")
          else inflight.remove(root, t)
      }
      ()
    }

    /** Fold on the cadence (0 disables — the flat-delta layout the
      * specs compare every compacting run against): a synchronous MINOR
      * fold of the ≤cadence deltas since the last boundary into
      * `runs/run=id`, then — once `majorRuns` runs accumulate — an
      * ASYNC major fold of everything < id into `compact/gen=id`.
      * The batch thread never does state-proportional work. */
    def maybeCompact(spark: SparkSession, base: String,
        content: StructType, id: Long, cadence: Int,
        sortCols: Seq[String] = Seq.empty,
        majorRuns: Int = DefaultMajorRuns): Unit =
      if (cadence > 0 && id > 0 && id % cadence == 0) {
        val g = gens(spark, base).filter(_ < id).maxOption
        val priorRuns = runIds(spark, base)
          .filter(r => r < id && g.forall(r > _))
        val b = (g.toSeq ++ priorRuns).maxOption.getOrElse(-1L)
        val minorIn = deltaIds(spark, base)
          .filter(d => d < id && d >= b).sorted
          .map(n => s"$base/delta/batch_id=$n")
        publishFold(readDirs(spark, content, minorIn), sortCols,
          s"$base/runs/run=$id")
        if (priorRuns.size + 1 >= majorRuns)
          triggerMajor(spark, base, content, id, sortCols)
      }

    /** Start the major fold on a daemon thread unless one is already
      * in flight for this root (the next cadence batch re-triggers —
      * majors are a throughput floor, not a per-batch obligation). A
      * fold failure only logs: state stays on the previous
      * generation + runs, costing read fan-in, never correctness. */
    private def triggerMajor(spark: SparkSession, base: String,
        content: StructType, id: Long, sortCols: Seq[String]): Unit = {
      val stale = inflight.get(base)
      if (stale != null && !stale.isAlive) inflight.remove(base, stale)
      val t = new Thread(() => {
        try majorFold(spark, base, content, id, sortCols)
        catch { case e: Throwable =>
          System.err.println(
            s"[compacted-state] major fold gen=$id at $base failed: $e")
        } finally { inflight.remove(base); () }
      }, s"graft-state-major-$id")
      t.setDaemon(true)
      if (inflight.putIfAbsent(base, t) == null) t.start()
    }

    /** The major fold body (background thread): sweep crashed staging
      * dirs, fold gen(G) ∪ runs(G, id] ∪ deltas[b, id) — a pure
      * function of committed history — publish atomically as gen=id,
      * then GC strictly below the PREVIOUS boundaries: gens < G,
      * runs ≤ G, deltas < max(G, last run < id). A replay of batch id
      * still resolves G with runs (G, id) and deltas ≥ that boundary,
      * all preserved; later batches resolve gen=id or newer. Runs in
      * (G, id] stay until the NEXT major's GC — redundant but
      * unreachable, bounded by majorRuns dirs. The fold lists its
      * input itself instead of calling [[read]]: later batches append
      * `> id` partitions while it runs, which read's lifecycle guard
      * would misread as a dead checkpoint. */
    private def majorFold(spark: SparkSession, base: String,
        content: StructType, id: Long, sortCols: Seq[String]): Unit = {
      val compactDir = new org.apache.hadoop.fs.Path(s"$base/compact")
      val fs = compactDir
        .getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(compactDir))
        fs.listStatus(compactDir).toSeq
          .filter(_.getPath.getName.startsWith(".staging_"))
          .foreach(s => fs.delete(s.getPath, true))
      val target = s"$base/compact/gen=$id"
      val g = gens(spark, base).filter(_ < id).maxOption
      if (!fs.exists(new org.apache.hadoop.fs.Path(target))) {
        // input = gen(G) ∪ runs (G, id] ∪ deltas [boundary, id): with
        // run=id just written the delta leg is empty; the ≤ id run
        // bound (vs read's strict <) is what lets the fold consume
        // its own batch's minor run — batch id's DELTA stays excluded
        // so gen=id covers exactly the state strictly before id
        val rs = runIds(spark, base)
          .filter(r => r <= id && g.forall(r > _)).sorted
        val b = (g.toSeq ++ rs).maxOption.getOrElse(-1L)
        val ds = deltaIds(spark, base)
          .filter(d => d < id && d >= b).sorted
        publishFold(readDirs(spark, content,
          g.map(n => s"$base/compact/gen=$n").toSeq ++
            rs.map(n => s"$base/runs/run=$n") ++
            ds.map(n => s"$base/delta/batch_id=$n")),
          sortCols, target)
      }
      val bKeep = (g.toSeq ++
        runIds(spark, base).filter(_ < id)).maxOption.getOrElse(-1L)
      val staleDirs =
        gens(spark, base).filter(n => g.exists(n < _))
          .map(n => s"$base/compact/gen=$n") ++
        runIds(spark, base).filter(n => g.exists(n <= _))
          .map(n => s"$base/runs/run=$n") ++
        deltaIds(spark, base).filter(_ < bKeep)
          .map(n => s"$base/delta/batch_id=$n")
      staleDirs.foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
    }
  }

  /** foreachBatch fan-out to TWO sinks: the batch is persisted once
    * (one upstream computation, two writes — without the persist each
    * sink would recompute the whole micro-batch plan), and each write
    * is per-batch idempotent, so a mid-fanout crash (sink A landed,
    * sink B not) heals on replay: A's partition is overwritten
    * byte-equal, B's gets written — both sinks converge to
    * exactly-once.
    */
  def dualSinkFanout(stream: DataFrame, pathA: String, pathB: String,
      checkpoint: String,
      betweenWrites: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val cached = batch.persist()
        try {
          writeBatchIdempotent(cached.toDF(), id, pathA)
          // test seam (StreamingSpec "torn fanout"): a thrown error
          // here IS the mid-fanout crash — A landed, B not, epoch
          // uncommitted — whose healing this operator's replay
          // idempotence exists for. Production path: no-op.
          betweenWrites(id)
          writeBatchIdempotent(cached.toDF(), id, pathB)
        } finally { cached.unpersist(); () }
      }
      .start()

  /** Stream-static enrichment join: each micro-batch broadcast-joins
    * against a STATIC dimension (here customer → market segment), then
    * feeds an unbounded keyed agg. The join itself is stateless —
    * Spark re-resolves the static side per micro-batch (so a dim
    * refresh is picked up on the next batch), and with the broadcast
    * hint each batch's join is a map-side hash probe: no shuffle, no
    * join state, state only in the downstream agg (one row per
    * segment). This is the streaming fact / slowly-refreshing dim
    * pattern every enrichment pipeline runs; left join + UNKNOWN
    * keeps unmatched facts (dropping them silently is the classic
    * enrichment bug).
    */
  def enrichBySegment(dim: DataFrame)(stream: DataFrame): DataFrame =
    stream
      .join(broadcast(dim.select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment"))), Seq("user_id"), "left")
      .groupBy(coalesce(col("segment"), lit("UNKNOWN")).as("segment"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))

  // ------------------------------------- custom keyed state (SURVEY §2.10)

  final case class KeyedEvent(user_id: Long, value: Double)
  final case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

  /** Q3 re-expressed through `flatMapGroupsWithState` — the custom
    * keyed-state surface (`KeyValueGroupedDataset`) for logic a
    * built-in agg can't express (here it CAN, which makes the built-in
    * result the exactness oracle in tests). State: one running
    * `UserTotals` per user; each micro-batch folds its rows in and
    * emits the updated total (update-mode semantics).
    *
    * At scale: state lives in the state store per shuffle partition of
    * the user key — identical placement to the built-in streaming agg.
    */
  def userTotalsWithState(events: org.apache.spark.sql.Dataset[KeyedEvent])
      : org.apache.spark.sql.Dataset[UserTotals] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[KeyedEvent], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(uid, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          rows.foreach { r => n += 1; tot += r.value }
          val next = UserTotals(uid, n, tot)
          state.update(next)
          Iterator.single(next)
      }
  }

  // ------------------------------------------------- gate-facing replay

  /** Fixture `events.ts` at-rest representation probe. Generations of
    * the fixture have shipped `ts` two ways (see
    * [[graft.sources.Tables.events]]): TIMESTAMP(NANOS), which the
    * legacy flag surfaces as an epoch-nanos LONG, and tz-naive
    * TIMESTAMP(MICROS), which reads as a plain µs TIMESTAMP. A
    * streaming file source needs an EXPLICIT schema, so the replay
    * probes one batch-read footer per path and mirrors whatever the
    * batch path sees — the stream and its batch oracle can then never
    * disagree about what an instant means.
    */
  private val tsProbeMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String), java.lang.Boolean]()

  private def tsReadAsLong(spark: SparkSession, parquetPath: String): Boolean =
    // memoized per (nanosAsLong setting, path): every replay constructs
    // a stream (several per gate run, two per replayAppendFlush call),
    // and un-memoized each construction pays a batch footer probe. The
    // flag is the only session state the answer depends on; a session
    // key would miss for every replay's own session and keep it
    // reachable.
    tsProbeMemo.computeIfAbsent(
      (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong"), parquetPath), { _ =>
        spark.read.parquet(parquetPath).schema("ts").dataType == LongType
      })

  private def rawEventSchema(tsLong: Boolean): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", if (tsLong) LongType else TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Streamed fixture events with `ts` normalized to a µs TIMESTAMP
    * whatever the at-rest representation. `probeFile` must be a
    * concrete parquet file covered by `glob` under `srcDir`.
    */
  private def eventStream(spark: SparkSession, srcDir: String,
      glob: String, probeFile: String): DataFrame = {
    val tsLong = tsReadAsLong(spark, probeFile)
    // recursiveFileLookup: `events.parquet` may be a single FILE (the
    // driver fixture) or a DIRECTORY of part files (every written-by-
    // Spark dataset, e.g. the sf1.0 canary) — possibly symlinked into
    // the replayAppendFlush scratch dir. Listing must traverse into
    // it either way; the explicit schema means no partition inference
    // is lost.
    val src = spark.readStream.schema(rawEventSchema(tsLong))
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true").parquet(srcDir)
    if (tsLong) src.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else src
  }

  /** Stream `<dir>/events.parquet` whatever its on-disk layout: the
    * driver fixture ships it as ONE parquet file directly under `dir`
    * (stream `dir` with a name filter — streaming the bare file path
    * is not a directory source), while any Spark-written copy of the
    * fixture (the sf1.0 canary, a real ingest landing) is a DIRECTORY
    * of part files (stream the directory itself; the glob keeps
    * `_SUCCESS` markers out). The sf1.0 canary caught the
    * single-layout assumption: a part-file directory matched zero
    * files against the `events.parquet` leaf-name glob and the replay
    * streamed nothing.
    */
  private def fixtureEventStream(spark: SparkSession, dir: String): DataFrame = {
    // layout sniff via the Hadoop FS API (advisory r10 hygiene): a
    // java.io.File probe is local-FS only — on a cluster filesystem it
    // would always report "not a directory" and silently take the
    // single-file branch
    val path = s"$dir/events.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory)
      eventStream(spark, path, "*.parquet", path)
    else eventStream(spark, dir, "events.parquet", path)
  }

  private val replaySeq = new java.util.concurrent.atomic.AtomicLong()

  /** The one in-memory Derby database every [[replay]] in this JVM
    * lands in, each call in its own `replay_<seq>` table. Booted by
    * the first replay and never dropped: a per-call database would pay
    * Derby's boot and its fixed-cost `drop=true` shutdown every time.
    */
  private[graft] val ReplayDbUrl = "jdbc:derby:memory:graft_replay;create=true"

  /** Row cap for the replay harnesses' final collects (VERDICT r12
    * #8): these sinks hold per-key aggregates of a fixture replay —
    * verification-sized by construction — and the collect exists only
    * to re-root the result in a one-partition frame. The cap makes
    * that contract EXECUTABLE: a future caller pointing a replay at
    * an unbounded result fails loudly before the driver absorbs it
    * (every replay ends in [[singlePartitionResult]], the pattern a
    * contributor would copy). */
  val VerificationCollectMaxRows = 1000000

  /** Bounded collect: `limit(cap + 1)` bounds the driver transfer
    * itself (not post-hoc), and the one overflow row — if present —
    * trips the contract by name. */
  private[graft] def collectVerificationSized(out: DataFrame,
      maxRows: Int = VerificationCollectMaxRows)
      : Seq[org.apache.spark.sql.Row] = {
    val rows = out.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"verification-sized collect exceeded $maxRows rows — the replay " +
        "harnesses exist for fixture-sized results; land an unbounded " +
        "result through a sink, never through the driver")
    rows.toSeq
  }

  /** A replay's final result, collected (size-capped) and re-rooted in
    * one partition that the plan KNOWS is one partition: `coalesce(1)`
    * reports `SinglePartition`, so a caller's `orderBy` is a local
    * sort with no range exchange in front of it.
    */
  private def singlePartitionResult(spark: SparkSession, out: DataFrame): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(collectVerificationSized(out), 1), out.schema)
      .coalesce(1)

  /** Start a replay's streaming query and run it to the end of its
    * finite source, then read its `result`. Stateful operators fix
    * their partition count at query START from
    * `spark.sql.shuffle.partitions`, and every state partition pays a
    * state-store commit per operator per batch: the replay starts with
    * at most 8 of them and at most one per core, so the stateful stage
    * runs as one wave of tasks. The query is built, started and read
    * on a copy of the caller's session that carries this count, so the
    * caller's conf is never written, and every other setting of it
    * (state store provider, checkpoint root) and its streaming-query
    * listeners still apply.
    * Partitioning does not affect results; a real deployment sizes it
    * to its key cardinality.
    *
    * The query checkpoints into a directory of its own, deleted here
    * through NIO: without one, Spark makes a temporary checkpoint and
    * registers it for an `rm -rf` child process at JVM exit. A session
    * checkpoint root (`spark.sql.streaming.checkpointLocation`) keeps
    * the checkpoint under that root instead, as it does for any query.
    */
  private def runToEnd[T](spark: SparkSession)(
      writer: SparkSession => DataStreamWriter[Row],
      start: DataStreamWriter[Row] => StreamingQuery)(
      result: SparkSession => T): T = {
    import org.apache.spark.sql.graftbridge.Bridge
    val session = Bridge.queryCopy(spark)
    session.conf.set("spark.sql.shuffle.partitions",
      math.min(8, spark.sparkContext.defaultParallelism).toString)
    val ckpt =
      if (session.conf.getOption("spark.sql.streaming.checkpointLocation").isDefined) None
      else Some(java.nio.file.Files.createTempDirectory("graft_replay_ckpt"))
    var started = false
    try {
      val w = writer(session)
      val q = start(ckpt.fold(w)(d => w.option("checkpointLocation", d.toString)))
      started = true
      try q.processAllAvailable()
      finally { q.stop(); Bridge.releaseStreams(Bridge.batchSession(q)) }
      result(session)
    } finally {
      if (!started) Bridge.releaseStreams(session)
      ckpt.foreach(graft.RunScratch.deleteTree)
    }
  }

  /** Replay the fixture through a streaming pipeline (update mode →
    * PK upsert sink), return the sink's final state. This is the
    * reference's end-to-end verification flow ("run the job, then
    * query the MySQL table", `doc/temp.md:904`) made synchronous: the
    * result must equal the equivalent batch query, so the replay
    * queries share the batch oracles at the correctness gate.
    *
    * The sink is the REAL executor-side JDBC path
    * ([[JdbcUpsertSink]]: foreachPartition + prepared-statement
    * batches) — rows never pass through the driver. Each call lands
    * in its own `replay_<seq>` table of the JVM's one shared embedded
    * Derby database ([[ReplayDbUrl]]); the final small result table
    * is read back once for the gate, exactly the reference's "query
    * the MySQL table" step, and then dropped — also when the replay
    * fails, so failed replays leave nothing behind either.
    */
  def replay(spark: SparkSession, dir: String,
      build: DataFrame => DataFrame, keys: Seq[String],
      outputMode: String = "update"): DataFrame = {
    val table = s"replay_${replaySeq.incrementAndGet()}"
    val sink = new JdbcUpsertSink(ReplayDbUrl, table, keys)
    try runToEnd(spark)(
        s => build(fixtureEventStream(s, dir)).writeStream.outputMode(outputMode),
        sink.writeTo)(_ => singlePartitionResult(spark, sink.toDF(spark)))
    finally dropReplayTable(table)
  }

  /** DROP a replay's result table. A replay that failed before its
    * first batch never created it (Derby 42Y55: no such table).
    */
  private def dropReplayTable(table: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(ReplayDbUrl)
    try {
      val st = conn.createStatement()
      try st.execute(s"DROP TABLE $table")
      catch { case e: java.sql.SQLException if e.getSQLState == "42Y55" => () }
      finally st.close()
    } finally conn.close()
  }

  /** Run `build` over the stream `src` opens into a memory sink in
    * `mode`; return the sink's final content. The sink's view lives in
    * the replay's own session, which reads and drops it.
    */
  private def replayToMemory(spark: SparkSession, src: SparkSession => DataFrame,
      build: DataFrame => DataFrame, mode: String): DataFrame = {
    val name = s"replay_${mode}_${replaySeq.incrementAndGet()}"
    runToEnd(spark)(
      s => build(src(s)).writeStream.outputMode(mode).format("memory").queryName(name),
      _.start()) { s =>
      try singlePartitionResult(spark, s.table(name))
      finally s.catalog.dropTempView(name)
    }
  }

  /** Replay through a COMPLETE-mode memory sink. Complete semantics
    * REPLACE the whole result every micro-batch, which is the only
    * sink shape that is correct for session windows across batches:
    * a session that absorbs another (or whose start shifts left under
    * an in-watermark out-of-order row) changes its key, and an upsert
    * sink would keep the superseded row forever — a truncating sink
    * cannot. (The PK-upsert replay stays the right harness for the
    * stable-key update-mode queries q1–q4.)
    */
  def replayComplete(spark: SparkSession, dir: String,
      build: DataFrame => DataFrame): DataFrame =
    replayToMemory(spark, fixtureEventStream(_, dir), build, "complete")

  /** Append-mode replay with a watermark flush: each finalized group
    * emits EXACTLY ONCE, when the watermark passes its close — the
    * per-batch-bounded output shape that scales (complete mode
    * re-emits the ENTIRE result history every micro-batch: fine only
    * when the result is tiny, a non-starter on a real stream).
    * Append rows are final even under session merging — a session the
    * watermark has closed can never be extended — so no truncating
    * sink is needed.
    *
    * What append alone cannot do on a finite replay is flush the
    * TAIL: the watermark ends `delay` short of the fixture's max
    * event time, leaving the trailing sessions open in state forever.
    * The replay closes them with a far-future SENTINEL row (user −1,
    * 3 days past the fixture — callers filter it): its event time
    * pushes the final watermark past every real session's close, and
    * the trailing no-data micro-batch (on by default) emits the
    * remainder. The source is a scratch view of the fixture — a
    * symlink to `events.parquet` plus a one-row sentinel file, both
    * listed in the FIRST micro-batch (no `maxFilesPerTrigger`), so
    * the sentinel cannot advance the watermark ahead of real rows.
    */
  def replayAppendFlush(spark: SparkSession, dir: String,
      build: DataFrame => DataFrame): DataFrame = {
    val tsLong = tsReadAsLong(spark, s"$dir/events.parquet")
    val scratch = graft.RunScratch.dir("replay_flush", dir)
    new java.io.File(scratch).mkdirs()
    val link = java.nio.file.Paths.get(scratch, "events.parquet")
    // NOFOLLOW: a dangling link must read as "present" here, or the
    // second pass trips FileAlreadyExists on the create. And the
    // target must be ABSOLUTE — a relative fixture dir (e.g. a
    // target/canary path) stored relative would resolve against the
    // scratch dir and dangle.
    if (!java.nio.file.Files.exists(link,
        java.nio.file.LinkOption.NOFOLLOW_LINKS))
      java.nio.file.Files.createSymbolicLink(
        link,
        java.nio.file.Paths.get(dir, "events.parquet").toAbsolutePath)
    val sentinel = java.nio.file.Paths.get(scratch, "zz_flush.parquet")
    if (!java.nio.file.Files.exists(sentinel)) {
      // the sentinel must ship in the fixture's own at-rest ts
      // representation — the stream reads both files with one schema
      val schema = rawEventSchema(tsLong)
      val maxRow = spark.read.schema(schema).parquet(s"$dir/events.parquet")
        .agg(max(col("ts"))).collect()(0)
      // an EMPTY fixture has no max event time — any sentinel instant
      // flushes the zero open sessions; pin the fixture epoch
      val flushTs: Any =
        if (tsLong) {
          val base = if (maxRow.isNullAt(0)) 1704067200L * 1000000000L
            else maxRow.getLong(0)
          base + 3L * 24 * 3600 * 1000000000L // +3 days (nanos)
        } else {
          val base = if (maxRow.isNullAt(0))
            java.time.Instant.ofEpochSecond(1704067200L)
          else maxRow.getTimestamp(0).toInstant
          java.sql.Timestamp.from(base.plus(java.time.Duration.ofDays(3)))
        }
      val row = org.apache.spark.sql.Row(-1L, flushTs, -1L, "flush", 0.0, null)
      val tmp = s"$scratch/.sentinel_build"
      spark.createDataFrame(
          java.util.Collections.singletonList(row), schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException("sentinel part file missing"))
      java.nio.file.Files.copy(part.toPath, sentinel)
    }
    replayToMemory(spark,
      eventStream(_, scratch, "*.parquet", s"$dir/events.parquet"),
      build, "append")
  }

  /** Gate replay of [[dualSinkFanout]]: stream the fixture through
    * the two-sink landing, then roll up what actually LANDED in sink
    * A — the oracle aggregates the original events, so the gate
    * proves the full stream→foreachBatch→partitioned-files path loses
    * and duplicates nothing. Sink/checkpoint dirs are wiped first:
    * batch numbering restarts per fresh checkpoint, so stale
    * partitions from a previous differently-batched run must not
    * survive underneath.
    */
  def fanoutRollup(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.RunScratch.dir("fanout", dir)
    val hPath = new org.apache.hadoop.fs.Path(base)
    hPath.getFileSystem(spark.sessionState.newHadoopConf()).delete(hPath, true)
    val src = fixtureEventStream(spark, dir)
    val q = dualSinkFanout(src, s"$base/a", s"$base/b", s"$base/ckpt")
    try { q.processAllAvailable() } finally q.stop()
    graft.ext.Layout.readBack(spark, s"$base/a",
        src.schema.add("batch_id", org.apache.spark.sql.types.LongType))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("uv"),
        sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
      .orderBy(col("event_type"))
  }

  /** Streaming incremental dedup — the continuous-ingest form of
    * [[graft.ext.Dedup.incrementalDedup]]: documents arrive in
    * micro-batches, each batch's survivors are the docs whose
    * bag-of-words fingerprint is absent from EVERY earlier batch, and
    * both survivors and the fingerprint state land per-batch
    * idempotently ([[writeBatchIdempotent]] — a crash between the two
    * writes heals on replay, both sinks converge to exactly-once).
    * Per batch the anti join is the gated bloom path: history
    * fingerprints build the prefilter, definite-new docs pass inside
    * the batch scan, only the maybe-member sliver shuffles.
    *
    * Replay determinism (the gate requires it): batches are
    * `doc_id mod nBatches`, written as one file each with STRICTLY
    * INCREASING mtimes so the file source's maxFilesPerTrigger=1
    * ordering is pinned — the batch sequence is a pure function of
    * the fixture, and the DuckDB oracle re-runs the same
    * first-batch-wins rule as a NOT EXISTS over smaller mod classes
    * (two same-fp docs in ONE batch both survive, exactly the
    * anti-join semantics). At 100 TB the state side is the
    * append-only fingerprint index, its folds sorted by fp — each
    * ingest reads it as the anti-join build.
    */
  def streamDedupIncremental(spark: SparkSession, dir: String,
      nBatches: Int = 3): DataFrame = {
    val base = prepareDedupStream(spark, dir, nBatches)
    runDedupStream(spark, dir, base)
    dedupStreamOutput(spark, base)
  }

  /** Wipe the scratch area and lay out the micro-batch source files
    * (split from [[streamDedupIncremental]] so the crash-replay spec
    * can restart [[runDedupStream]] against the SAME checkpoint —
    * StreamingSpec "crash-replay"). Returns the scratch base dir.
    */
  def prepareDedupStream(spark: SparkSession, dir: String,
      nBatches: Int = 3, scratch: String = "stream_dedup"): String = {
    val base = graft.RunScratch.dir(scratch, dir)
    val hPath = new org.apache.hadoop.fs.Path(base)
    hPath.getFileSystem(spark.sessionState.newHadoopConf()).delete(hPath, true)
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    (0 until nBatches).foreach { b =>
      val p = s"$base/src/batch_$b"
      docs.filter(pmod(col("doc_id"), lit(nBatches)) === b)
        .coalesce(1).write.mode("overwrite").parquet(p)
      // pin the source's processing order: distinct, increasing mtimes
      new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => require(f.setLastModified(1000000000000L + b * 60000L),
          s"setLastModified failed on $f — batch-order pin would silently " +
            "fall back to listing order"))
    }
    base
  }

  /** The one micro-batch drain every document stream runs: read the
    * batch files [[prepareDedupStream]] laid out under `base/src`
    * (documents schema, one file per trigger, so the batch sequence
    * is a pure function of the fixture), checkpoint under
    * `base/ckpt`, run `land` per batch, then drain and stop. A fresh
    * checkpoint starts at batch 0; an existing one RESTARTS and
    * re-delivers the epoch that never committed.
    *
    * Contract on `land`, which is what makes a replay converge:
    * it is idempotent per batch id — it lands through
    * [[writeBatchIdempotent]] (a replayed batch overwrites its own
    * `batch_id` partition) and reads state only from STRICTLY
    * earlier batches. The encode legs hold it trivially: encode is a
    * pure per-document function and each document arrives in exactly
    * one batch, so the landed union equals the batch encode.
    *
    * `afterWrites` runs after `land`: the crash-replay specs throw
    * from it to kill the query after batch N landed but before its
    * epoch commits. Production path: no-op.
    */
  private def drainBatches(spark: SparkSession, dir: String, base: String,
      afterWrites: Long => Unit)(land: (DataFrame, Long) => Unit): Unit = {
    val docsSchema = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text")).schema
    val q = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true").parquet(s"$base/src")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
        land(batch.toDF(), id)
        afterWrites(id)
      }
      .start()
    try { q.processAllAvailable() } finally q.stop()
  }

  /** Start (or RESTART — the checkpoint under `base` is reused as-is)
    * the dedup stream and drain every available batch
    * ([[drainBatches]]; `afterWrites` fires after both landings, where
    * batch N's own state partition is already on disk but N's epoch
    * never committed — the replay case the `batch_id < id` guard
    * exists for).
    */
  def runDedupStream(spark: SparkSession, dir: String, base: String,
      afterWrites: Long => Unit = _ => (),
      compactCadence: Int = 2,
      majorRuns: Int = CompactedState.DefaultMajorRuns): Unit = {
    import graft.ext.Dedup
    val (outDir, stateDir) = (s"$base/out", s"$base/state")
    val fpContent = StructType(Seq(StructField("fp", StringType)))
    drainBatches(spark, dir, base, afterWrites) { (batch, id) =>
      val s = batch.sparkSession
      val cached = batch.persist()
      try {
        // STRICTLY EARLIER batches only: on crash-replay of batch N
        // its own batch_id=N state partition may already be (fully
        // or partially) visible, and an unfiltered read would
        // anti-join the batch against its own fingerprints —
        // silently dropping correct survivors on the re-run
        // (executed, not just reasoned: StreamingSpec
        // "crash-replay after state write converges to the
        // uninterrupted result"). The guard lives inside
        // CompactedState.read, applied to generations AND deltas.
        val hist = CompactedState.read(s, stateDir, fpContent, id)
        val survivors = graft.ops.BloomJoin.antiJoin(
          cached.toDF().withColumn("__fp",
            Dedup.bagFingerprint(col("text"))),
          col("__fp"), hist, col("fp"))
        writeBatchIdempotent(
          survivors.select(col("doc_id"), col("source")), id, outDir)
        CompactedState.append(
          cached.toDF().select(
            Dedup.bagFingerprint(col("text")).as("fp")), id, stateDir)
        CompactedState.maybeCompact(s, stateDir, fpContent, id,
          compactCadence, sortCols = Seq("fp"), majorRuns = majorRuns)
      } finally { cached.unpersist(); () }
    }
    // quiesce: a major fold kicked off by a late batch may still be
    // in flight — join it so callers (gates, specs)
    // observe a settled layout and the session never stops under a
    // running fold job
    CompactedState.awaitCompactions(base)
  }

  /** Streaming incremental NEAR-dup — the continuous-ingest form of
    * [[graft.ext.Dedup.minhashPairsAgainst]], and the banded twin of
    * [[streamDedupIncremental]] (which drops only EXACT bag-of-words
    * duplicates): per micro-batch, the batch's minhash band keys
    * equi-join the accumulated band-key index (merge-hinted — the
    * index is corpus-derived state, never broadcast on an estimate),
    * candidates verify by exact shingle Jaccard against the
    * accumulated shingle index, and batch docs within `threshold` of
    * ANY earlier doc are dropped. Survivors AND the batch's own
    * bands/shingles land per-batch idempotently (three sinks, each
    * healed on crash-replay by the `batch_id < id` read guard, the
    * [[runDedupStream]] discipline).
    *
    * State semantics: the index holds EVERY earlier doc's keys —
    * dropped docs included — so "near-dup of something already seen"
    * is decided against the full ingest history, exactly like the
    * batch operator's asymmetric new×history join (no dependence on
    * which family member happened to survive). Band keys and shingles
    * are pure per-document functions, which is what makes the state
    * append-only AND the DuckDB oracle able to re-derive the whole
    * first-batch-wins closure from the full-corpus aux features. At
    * 100 TB both indexes fold sorted on their join keys
    * ((band, band_key) / doc_id) and each ingest reads them as the
    * probe build.
    */
  def streamNearDupIncremental(spark: SparkSession, dir: String,
      nBatches: Int = 3): DataFrame = {
    val base = prepareDedupStream(spark, dir, nBatches,
      scratch = "stream_neardup")
    runNearDupStream(spark, dir, base)
    dedupStreamOutput(spark, base)
  }

  /** Start (or restart against the same checkpoint) the near-dup
    * stream and drain every available batch — the [[runDedupStream]]
    * seam split, so crash-replay specs can kill and resume it.
    */
  def runNearDupStream(spark: SparkSession, dir: String, base: String,
      afterWrites: Long => Unit = _ => (),
      compactCadence: Int = 2,
      majorRuns: Int = CompactedState.DefaultMajorRuns): Unit = {
    import graft.ext.Dedup
    import org.apache.spark.sql.types.{ArrayType, IntegerType}
    val outDir = s"$base/out"
    val (bandsDir, shDir) = (s"$base/bands", s"$base/shingles")
    val bandContent = StructType(Seq(
      StructField("doc_id", LongType), StructField("band", IntegerType),
      StructField("band_key", LongType)))
    val shContent = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("sh", ArrayType(LongType))))
    drainBatches(spark, dir, base, afterWrites) { (batch, id) =>
      val s = batch.sparkSession
      val cached = batch.persist()
      // minhash bands/shingles each feed more than one consumer (band
      // or verify join + state append) — persist so the
      // per-doc minhash runs once per batch, not per consumer
      val bBands = Dedup.minhashBandKeys(cached.toDF()).persist()
      val bSh = Dedup.minhashShingles(cached.toDF()).persist()
      val cand = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.DataFrame]
      try {
        // STRICTLY EARLIER batches only — batch N's own partitions
        // may be (partially) visible on crash-replay of N; the
        // guard lives inside CompactedState.read (gens AND deltas).
        val hHist = CompactedState.read(s, bandsDir, bandContent, id)
          .select(col("band"), col("band_key"), col("doc_id").as("doc_hist"))
        val cand0 = bBands
          .select(col("band"), col("band_key"), col("doc_id").as("doc_new"))
          .join(hHist.hint("merge"), Seq("band", "band_key"))
          .select(col("doc_new"), col("doc_hist"))
          .dropDuplicates("doc_new", "doc_hist")
          .persist()
        cand += cand0
        val hSh = CompactedState.read(s, shDir, shContent, id)
        val dropped = cand0
          .join(bSh.select(col("doc_id").as("doc_new"),
            col("sh").as("sh_n")).hint("merge"), "doc_new")
          .join(hSh.select(col("doc_id").as("doc_hist"),
            col("sh").as("sh_h")).hint("merge"), "doc_hist")
          .withColumn("__inter", graft.functions.SortedIntersectCard
            .sorted_intersect_card(col("sh_n"), col("sh_h")))
          // sorted-merge intersect + derived union size (both sides
          // are minhashShingles lineages, sorted at featurization —
          // the batch's directly, the state by append of the same
          // frame): same double, no per-candidate hash set.
          // SCHEMA CONTRACT (ADVICE r15): the `sh` column persisted
          // into the shDir CompactedState IS sorted-ascending
          // distinct — a state dir written by pre-r15 code (unsorted
          // arrays) must be rebuilt, or the merge undercounts; run
          // with -Dgraft.sortedIntersect.check=true to fail loudly
          // on such stale state instead.
          .filter(col("__inter").cast("double") /
            (size(col("sh_n")) + size(col("sh_h")) - col("__inter"))
              .cast("double")
              >= Dedup.DefaultMinhashThreshold)
          .select(col("doc_new").as("doc_id")).distinct()
        val survivors = cached.toDF().select(col("doc_id"), col("source"))
          .join(dropped, Seq("doc_id"), "left_anti")
        writeBatchIdempotent(survivors, id, outDir)
        CompactedState.append(
          bBands.select(col("doc_id"), col("band"), col("band_key")),
          id, bandsDir)
        CompactedState.append(bSh.select(col("doc_id"), col("sh")), id, shDir)
        CompactedState.maybeCompact(s, bandsDir, bandContent, id,
          compactCadence, sortCols = Seq("band", "band_key"),
          majorRuns = majorRuns)
        CompactedState.maybeCompact(s, shDir, shContent, id,
          compactCadence, sortCols = Seq("doc_id"), majorRuns = majorRuns)
      } finally {
        cand.foreach(_.unpersist())
        bBands.unpersist(); bSh.unpersist(); cached.unpersist(); ()
      }
    }
    CompactedState.awaitCompactions(base) // see runDedupStream
  }

  /** Micro-batches an encode stream's corpus is split into. */
  private val EncodeStreamBatches = 3

  /** Streaming encode-from-artifact — production tokenization as a
    * continuous job, for any tokenizer family's
    * [[graft.ext.TokenizerArtifact.EncodeLeg]]: the tokenizer trains
    * and persists ONCE (the corpus-sized cost), the stream loads the
    * artifact once at start, and every micro-batch encodes against
    * the same loaded state and lands idempotently.
    *
    * The gate reads back what actually LANDED and hash-checks it
    * against the family's batch oracle verbatim — three claims in
    * one hash: the stream loses nothing, duplicates nothing, and the
    * artifact-loaded encode is bit-equal to the fused train+encode.
    * No cross-batch state exists.
    */
  def artifactEncodeStream(spark: SparkSession, dir: String,
      leg: graft.ext.TokenizerArtifact.EncodeLeg): DataFrame = {
    val base = prepareDedupStream(spark, dir, EncodeStreamBatches,
      scratch = leg.gate)
    leg.write(graft.sources.Tables.documents(spark, dir), s"$base/artifact")
    runArtifactEncodeStream(spark, dir, base, leg)
    artifactEncodeOutput(spark, base, leg)
  }

  /** Start (or RESTART against the same checkpoint) `leg`'s encode
    * stream over the artifact under `base/artifact` and drain it —
    * the seam the crash-replay specs kill and resume. */
  def runArtifactEncodeStream(spark: SparkSession, dir: String,
      base: String, leg: graft.ext.TokenizerArtifact.EncodeLeg,
      afterWrites: Long => Unit = _ => ()): Unit = {
    val encode = leg.open(spark, s"$base/artifact")
    drainBatches(spark, dir, base, afterWrites) { (batch, id) =>
      writeBatchIdempotent(encode(batch), id, s"$base/out")
    }
  }

  /** What `leg`'s stream landed under `base`, in its gate's shape
    * (batch_id is landing metadata, not payload). */
  def artifactEncodeOutput(spark: SparkSession, base: String,
      leg: graft.ext.TokenizerArtifact.EncodeLeg): DataFrame = {
    val landed = StructType.fromDDL(leg.landedDdl)
    leg.reaggregate(graft.ext.Layout.readBack(spark, s"$base/out",
        landed.add("batch_id", LongType)).drop("batch_id"))
      .orderBy(col(landed.head.name))
  }

  /** The landed survivor set under `base`, in gate output shape. */
  def dedupStreamOutput(spark: SparkSession, base: String): DataFrame =
    graft.ext.Layout.readBack(spark, s"$base/out",
        StructType.fromDDL("doc_id BIGINT, source STRING, batch_id BIGINT"))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  /** Streaming queries surfaced at the correctness gate. Each shares
    * its batch twin's DuckDB oracle — the gate itself asserts
    * stream ≡ batch.
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    "stream_dedup_incremental" -> ((s, d) => streamDedupIncremental(s, d)),
    "stream_neardup_incremental" -> ((s, d) => streamNearDupIncremental(s, d)),
    "stream_fanout_rollup" -> (fanoutRollup _),
    "stream_q1_daily_uv" -> ((s, d) =>
      replay(s, d, q1DailyUv, Seq("date_str")).orderBy(col("date_str"))),
    "stream_q2_per_minute" -> ((s, d) =>
      replay(s, d, q2PerMinute, Seq("min_of_day")).orderBy(col("min_of_day"))),
    "stream_q3_user_gmv" -> ((s, d) =>
      replay(s, d, q3UserGmv, Seq("user_id")).orderBy(col("user_id"))),
    "stream_q4_channel_gmv" -> ((s, d) =>
      replay(s, d, q4ChannelGmv, Seq("channel_id")).orderBy(col("channel_id"))),
    // session_window disallows update mode (merging sessions have no
    // stable key), and an upsert sink would keep superseded session
    // rows if a merge ever changed a key across batches — append mode
    // emits each session once, at finalization, when it can no longer
    // merge; the sentinel-flushed replay closes the fixture's tail
    // (sentinel user −1 filtered here).
    "stream_sessions_user" -> ((s, d) =>
      replayAppendFlush(s, d, qSessions)
        .filter(col("user_id") =!= -1L)
        .orderBy(col("user_id"), col("session_start"))),
    "stream_enrich_segment" -> ((s, d) =>
      replay(s, d,
        enrichBySegment(graft.sources.Tables.customer(s, d)),
        Seq("segment")).orderBy(col("segment"))),
    "stream_join_attrib" -> (streamJoinAttrib _)
  ) ++ graft.ext.TokenizerArtifact.encodeLegs.map(leg =>
    leg.gate ->
      ((s: SparkSession, d: String) => artifactEncodeStream(s, d, leg)))

  val oracles: Map[String, String] = Map(
    // the in-lineage encode oracle VERBATIM: what the stream landed
    // must be indistinguishable from the batch train+encode — losing,
    // duplicating, or artifact-drifting any doc breaks the hash
    "stream_encode_ids" -> graft.ext.CorpusPrep.oracles("bpe_encode_ids"),
    // same discipline for the WordPiece stream: the landed, re-
    // aggregated per-word encodes vs the batch wordpiece_encode
    // oracle verbatim
    "stream_wordpiece_encode" ->
      graft.ext.CorpusPrep.oracles("wordpiece_encode"),
    // and for the unigram stream: the landed per-doc stats vs the
    // batch unigram_encode_stats oracle verbatim (per-word Viterbi
    // purity + one-batch-per-doc make the union exact)
    "stream_unigram_encode" ->
      graft.ext.CorpusPrep.oracles("unigram_encode_stats"),
    // the subword-regularization stream (deterministic-seed arm):
    // DuckDB re-enumerates the k-best lists, re-snaps the integer
    // weights, and re-runs the per-(doc, word) threshold pick from
    // the materialized doc-level hashes — landing ≡ sampled batch
    // twin through one hash
    "stream_unigram_encode_sampled" ->
      graft.ext.CorpusPrep.unigramSampledDocStatsOracleSql,
    // the BPE-dropout stream: the landed per-doc digests vs the batch
    // bpe_encode_dropout oracle VERBATIM (the dropout dict is a pure
    // function of artifact + seed; docs arrive in exactly one batch)
    "stream_bpe_encode_dropout" ->
      graft.ext.CorpusPrep.oracles("bpe_encode_dropout"),
    // the byte-BPE stream: landed per-doc digests vs the batch
    // bpe_byte_encode_ids oracle VERBATIM (once-loaded dict, per-doc
    // pure encode, one batch per doc)
    "stream_bpe_byte_encode" ->
      graft.ext.ByteBpe.oracles("bpe_byte_encode_ids"),
    // first-batch-wins over mod-3 micro-batches: a doc survives iff
    // no doc in a SMALLER mod class shares its fingerprint (same-fp
    // docs within one batch both survive — the anti-join semantics)
    "stream_dedup_incremental" ->
      """WITH f AS (
        |  SELECT doc_id, source,
        |         md5(array_to_string(list_sort(list_distinct(
        |           string_split_regex(lower(trim(text)), '\s+'))), ' ')) AS fp
        |  FROM documents)
        |SELECT doc_id, source FROM f b
        |WHERE NOT EXISTS (SELECT 1 FROM f h
        |                  WHERE h.fp = b.fp
        |                    AND h.doc_id % 3 < b.doc_id % 3)
        |ORDER BY doc_id""".stripMargin,
    // the NEAR-dup twin: band keys and shingles are pure per-document
    // functions, so the full-corpus aux features re-derive the whole
    // first-batch-wins closure — candidates from the asymmetric
    // earlier-mod-class band join, dropped = candidates verified at
    // the gate threshold, survivors = everything else (docs with no
    // shingles never enter a candidate and always survive, exactly
    // like the engine's size(sh) > 0 filter)
    "stream_neardup_incremental" ->
      s"""WITH bk AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/minhash_bands/*.parquet')),
        |sh AS (SELECT * FROM read_parquet('__OUTDIR__/.aux/minhash_shingles/*.parquet')),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_hist
        |  FROM bk a JOIN bk b
        |    ON a.band = b.band AND a.band_key = b.band_key
        |   AND b.doc_id % 3 < a.doc_id % 3),
        |dropped AS (
        |  SELECT DISTINCT c.doc_new AS doc_id
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.doc_new
        |  JOIN sh sb ON sb.doc_id = c.doc_hist
        |  WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0 /
        |        (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
        |        >= ${graft.ext.Dedup.DefaultMinhashThreshold})
        |SELECT d.doc_id, d.source FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM dropped x WHERE x.doc_id = d.doc_id)
        |ORDER BY doc_id""".stripMargin,
    "stream_fanout_rollup" ->
      """SELECT event_type, count(*) AS n_events,
        |       count(DISTINCT user_id) AS uv,
        |       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS value_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_q1_daily_uv" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS date_str,
        |       count(DISTINCT user_id) AS uv
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_q2_per_minute" ->
      """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M') AS min_of_day,
        |       count(*) AS buy_cnt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_q3_user_gmv" ->
      """SELECT user_id, round(sum(value), 2) AS amount
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_q4_channel_gmv" ->
      """SELECT event_type AS channel_id, round(sum(value), 2) AS amount
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // the batch gaps-and-islands sessionization — stream ≡ batch
    "stream_sessions_user" ->
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked)
        |SELECT user_id,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       count(*) AS n_events,
        |       round(sum(value), 2) AS session_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,
    "stream_enrich_segment" ->
      """SELECT coalesce(c_mktsegment, 'UNKNOWN') AS segment,
        |       count(*) AS n_events,
        |       round(sum(value), 2) AS total_value
        |FROM events LEFT JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the batch interval join the streaming inner join must equal;
    // time compares in epoch µs on both sides (Spark's ts column IS
    // µs truncation of the nanos fixture, epoch_us matches it)
    "stream_join_attrib" ->
      s"""SELECT p.user_id AS user_id,
         |       epoch_us(p.ts) AS purchase_us,
         |       epoch_us(c.ts) AS click_us,
         |       p.value AS purchase_value
         |FROM events p JOIN events c
         |  ON c.user_id = p.user_id
         | AND epoch_us(c.ts) <= epoch_us(p.ts)
         | AND epoch_us(c.ts) >= epoch_us(p.ts) - ${AttribWindowHours}::BIGINT * 3600000000
         |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
         |ORDER BY 1, 2, 3""".stripMargin
  )
}
