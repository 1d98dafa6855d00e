package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** At-rest layout control for a training-data lake: partitioned,
  * sorted, size-bounded parquet. The reference's at-rest layout is a
  * 2-bucket transactional ORC table (`doc/temp.md:639-648`); at
  * 100 TB the equivalent concerns are
  *
  *  1. **partition pruning** — a query filtering on the partition
  *     column must read only matching directories (the scan shows
  *     `PartitionFilters`, and non-matching partitions are never
  *     listed, let alone opened);
  *  2. **within-file ordering** — sorting within partitions gives
  *     parquet tight min/max column statistics, so row groups that
  *     can't match a predicate are skipped at scan time;
  *  3. **file sizing** — `maxRecordsPerFile` bounds file size from
  *     above (no 10 GB monoliths that defeat task parallelism), and
  *     one `repartition` on the partition columns bounds the file
  *     COUNT from below (without it, every input task writes a file
  *     into every output partition: tasks × partitions small files —
  *     the classic lake-rot failure mode).
  */
object Layout {

  /** Read a layout THIS engine just wrote back with its KNOWN schema.
    * Schema inference fails on the empty case — an all-empty write
    * under `partitionBy` leaves a file-less (dynamic-overwrite: even
    * absent) directory — and a reader of its own layout never needs
    * inference in the first place. Empty input must flow through a
    * write→read round-trip as an empty frame, not an
    * UNABLE_TO_INFER_SCHEMA crash (EmptyFixtureSpec pins this for
    * every registry operator).
    *
    * The existence probe goes through the Hadoop FS API resolved from
    * the path itself — a `java.io.File` probe is local-FS only and on
    * a cluster filesystem (hdfs://, s3a://) would report EVERY path
    * absent, silently turning each read-back into an empty frame
    * (advisory r9: for CompactedState that meant dedup history
    * vanishing and duplicates re-admitted, exactly where the
    * 100 TB/cluster claim lives).
    */
  def readBack(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(path)
  }

  /** Write `df` as a partitioned parquet layout:
    * directory-partitioned by `partitionCols`, rows sorted by
    * `sortCols` within each file, at most `maxRecordsPerFile` rows
    * per file. The `repartition` on the partition columns routes each
    * output partition's rows to one task (one writer per partition ×
    * at-most-maxRecords file splits); `sortWithinPartitions` orders
    * rows inside each task so every written file carries monotone
    * `sortCols` ranges — the layout parquet min/max pruning exploits.
    */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String], sortCols: Seq[String],
      maxRecordsPerFile: Long = 1000000L): Unit =
    layoutWriter(df, partitionCols, sortCols, maxRecordsPerFile)
      .parquet(path)

  private def layoutWriter(df: DataFrame, partitionCols: Seq[String],
      sortCols: Seq[String], maxRecordsPerFile: Long)
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    df.repartition(partitionCols.map(col): _*)
      .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .mode("overwrite")

  /** Incremental partition refresh: overwrite ONLY the partitions
    * present in `updates` (dynamic partition overwrite), leaving
    * every other partition's files untouched — the daily-refresh
    * primitive of a partitioned lake. Static overwrite would drop
    * the whole table first; append would duplicate; read-modify-
    * write of the full lake to refresh one day is exactly what a
    * 100 TB layout cannot afford. Same sort/size discipline as
    * [[writePartitioned]]. Dynamic mode is a per-write option, so the
    * caller's session conf is never touched (streams land through here
    * from their own threads).
    */
  def upsertPartitions(updates: DataFrame, path: String,
      partitionCols: Seq[String], sortCols: Seq[String],
      maxRecordsPerFile: Long = 1000000L): Unit =
    layoutWriter(updates, partitionCols, sortCols, maxRecordsPerFile)
      .option("partitionOverwriteMode", "dynamic")
      .parquet(path)

  /** Row-level MERGE (upsert-by-key): `updates` rows replace target
    * rows with the same key; update-only keys are inserts; untouched
    * target rows pass through — `MERGE INTO t USING u WHEN MATCHED
    * THEN UPDATE WHEN NOT MATCHED THEN INSERT` as a plan:
    * `updates ∪ (target ⟕̸ updates)` (union + left-anti on the key).
    *
    * At 100 TB both sides hash-partition once on the key — the same
    * shuffle a MERGE in any lakehouse format pays — and the result
    * streams to [[upsertPartitions]] so only touched partitions
    * rewrite. Key uniqueness per side is the caller's contract
    * (duplicate update keys would both survive; validate upstream
    * with [[DataQuality]] rules).
    */
  def mergeByKey(target: DataFrame, updates: DataFrame,
      key: String): DataFrame = {
    val untouched = target.join(
      updates.select(col(key).as("__mk")), col(key) === col("__mk"),
      "left_anti")
    updates.unionByName(untouched)
  }

  /** CDC snapshot diff: the change feed between two snapshots of a
    * keyed table — `insert` (key only in `next`), `delete` (key only
    * in `prev`), `update` (key in both, any attribute differs
    * null-safely); identical rows produce NO change row (the property
    * that keeps a daily diff of a mostly-static 100 TB dimension
    * KB-sized). The complement of [[mergeByKey]]/[[Scd2 -- apply]]:
    * those APPLY a known delta, this RECOVERS the delta from two
    * states — what you feed downstream consumers when the upstream
    * can't emit its own changelog.
    *
    * One full-outer co-keyed join: both sides hash-partition once on
    * the key, the unchanged majority is dropped before anything else
    * happens, and no window/sort appears anywhere.
    */
  def snapshotDiff(prev: DataFrame, next: DataFrame, key: String,
      attrs: Seq[String]): DataFrame = {
    // explicit presence markers, NOT attr-null checks: a row whose
    // attributes are all legitimately null must still count as present
    val p = prev.select(col(key) +: lit(1).as("__p") +:
      attrs.map(a => col(a).as(s"__p_$a")): _*)
    val n = next.select(col(key) +: lit(1).as("__n") +:
      attrs.map(a => col(a).as(s"__n_$a")): _*)
    val inPrev = col("__p").isNotNull
    val inNext = col("__n").isNotNull
    val differs = attrs.map(a => !(col(s"__p_$a") <=> col(s"__n_$a"))).reduce(_ || _)
    p.join(n, Seq(key), "full_outer")
      .withColumn("change_type",
        when(!inPrev, lit("insert"))
          .when(!inNext, lit("delete"))
          .when(differs, lit("update")))
      .filter(col("change_type").isNotNull)
      .select(col(key) +: col("change_type") +:
        attrs.flatMap(a => Seq(col(s"__p_$a").as(s"${a}_old"),
          col(s"__n_$a").as(s"${a}_new"))): _*)
  }

  /** Compaction planning — the OPTIMIZE small-files pass as explicit
    * dataflow: given file-level stats, group CONTIGUOUS files (in
    * deterministic `fileCol` order) into bins of ≈ `targetBytes` via
    * cumulative-size binning, `bin = floor(cum_bytes_before /
    * target)`. Contiguous greedy binning preserves the sort/partition
    * locality of the existing layout (files that were range-neighbors
    * compact together), which is why OPTIMIZE-style compactors use
    * it. Bin ids can skip values after an oversized file (it owns
    * several bins' worth of the cumsum) — they are grouping keys, not
    * dense ordinals.
    *
    * Scale note: planning is METADATA-scale work — the input is a
    * file listing (millions of rows per exabyte, not the data
    * itself), so the single total-order window here is the right
    * plan; the data-scale rewrite it drives is
    * [[writePartitioned]]'s job, one task per bin.
    */
  def compactionPlan(files: DataFrame, fileCol: String, bytesCol: String,
      targetBytes: Long): DataFrame = {
    val w = Window.orderBy(col(fileCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files
      .withColumn("cum_before",
        sum(col(bytesCol)).over(w) - col(bytesCol))
      // long/long division promotes to double in BOTH engines; the
      // operands are exact integers, so floor-of-quotient matches
      .withColumn("bin", floor(col("cum_before") / lit(targetBytes)))
      .drop("cum_before")
  }

  /** The pruning round-trip surfaced at the gate: lay `documents`
    * out partitioned by `lang` (sorted by `source, doc_id` within
    * partitions), then aggregate ONE language partition. The read
    * plan prunes to the single matching directory (asserted in
    * PlansSpec); the oracle aggregates the same slice off the
    * original un-partitioned table — layout must never change
    * results, only cost.
    */
  def pruneAggregate(spark: SparkSession, dir: String): DataFrame = {
    // fixed per-fixture path + overwrite mode: repeated bench/verify
    // invocations rewrite ONE layout copy instead of leaking a fresh
    // temp directory per call (Bench alone runs this 5× per run)
    val tmp = graft.RunScratch.dir("layout_prune", dir)
    val docs = Tables.documents(spark, dir)
    writePartitioned(docs, tmp,
      partitionCols = Seq("lang"), sortCols = Seq("source", "doc_id"),
      maxRecordsPerFile = 100000L)
    readBack(spark, tmp, docs.schema)
      .filter(col("lang") === "en")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("total_chars"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("source"))
  }

  /** File-level zonemap (min/max) data skipping — pruning WITHIN a
    * partition, one level finer than [[pruneAggregate]]'s directory
    * pruning: range-layout the table on the filter column (each file
    * carries a disjoint doc_id range), build a per-file min/max
    * manifest, and answer a range query by reading ONLY the files
    * whose zone intersects the predicate — the Delta/Iceberg
    * data-skipping mechanism as explicit dataflow.
    *
    * At 100 TB the manifest is built ONCE at write time (here it is
    * derived by a scan for self-containment; a production writer
    * collects it from parquet footers as it writes) and amortizes
    * over every subsequent query; it is file-count-sized — KBs per
    * PB — which is why collecting the matching file list to the
    * driver is a metadata operation, not a data collect. The exact
    * predicate is re-applied after the pruned read, so a stale or
    * coarse manifest can only cost I/O, never correctness.
    */
  def zonemapPruneAgg(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.RunScratch.dir("layout_zonemap", dir)
    Tables.documents(spark, dir)
      .repartitionByRange(8, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").parquet(tmp)
    val (loP, hiP) = (10L, 29L)
    val files = spark.read.parquet(tmp)
      .groupBy(input_file_name().as("file"))
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .filter(col("hi") >= loP && col("lo") <= hiP)
      .select("file").collect().map(_.getString(0))
    val pruned =
      if (files.nonEmpty) spark.read.parquet(files.toIndexedSeq: _*)
      else spark.read.parquet(tmp) // degenerate manifest: correctness first
    pruned.filter(col("doc_id").between(loP, hiP))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("total_chars"))
      .orderBy(col("lang"))
  }

  /** CDC gate scenario: the "next" snapshot updates every key ≡0
    * (mod 4), deletes every key ≡1, keeps the rest byte-identical
    * (must emit NOTHING), and inserts one new customer per nation.
    */
  def cdcSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    val next = cust.filter(col("c_custkey") % 4 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 10.0)
      .unionByName(cust.filter(col("c_custkey") % 4 > 1))
      .unionByName(Tables.nation(spark, dir).select(
        (col("n_nationkey").cast("long") + lit(1000000L)).as("c_custkey"),
        lit("NEW").as("c_mktsegment"), lit(0.0).as("c_acctbal")))
    snapshotDiff(cust, next, "c_custkey",
        Seq("c_mktsegment", "c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the (source, lang) slices of `documents` stand in for the file
    // listing (bytes = total chars); target 4096 makes most bins span
    // several files while the big en slices straddle bin boundaries
    "layout_compaction_plan" -> ((s, d) =>
      compactionPlan(
        Tables.documents(s, d)
          .groupBy(concat(col("source"), lit("/"), col("lang"))
            .as("file_id"))
          .agg(sum(col("n_chars")).as("bytes")),
        "file_id", "bytes", targetBytes = 4096L)
        .orderBy(col("file_id"))),
    "cdc_snapshot_diff" -> (cdcSnapshotDiff _),
    "layout_prune_agg" -> (pruneAggregate _),
    "zonemap_prune_agg" -> (zonemapPruneAgg _),
    // MERGE gate: "updates" = even-keyed customers with doubled
    // balance + one synthetic new customer per nation; merged table
    // summarized per nation so the full row set is exercised
    "merge_upsert" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val updates = cust.filter(col("c_custkey") % 2 === 0)
        .withColumn("c_acctbal", col("c_acctbal") * 2)
        .unionByName(
          Tables.nation(s, d).select(
            (col("n_nationkey").cast("long") + lit(1000000L)).as("c_custkey"),
            concat(lit("new-"), col("n_name")).as("c_name"),
            col("n_nationkey").as("c_nationkey"),
            lit(0.0).as("c_acctbal"),
            lit("BUILDING").as("c_mktsegment")))
      mergeByKey(cust, updates, "c_custkey")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal")), 2).as("total_bal"))
        .orderBy(col("c_nationkey"))
    })
  )

  val oracles: Map[String, String] = Map(
    "layout_compaction_plan" ->
      """WITH f AS (SELECT source || '/' || lang AS file_id,
        |                  CAST(sum(n_chars) AS BIGINT) AS bytes
        |           FROM documents GROUP BY 1),
        |c AS (SELECT file_id, bytes,
        |             sum(bytes) OVER (ORDER BY file_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |               - bytes AS cum_before
        |      FROM f)
        |SELECT file_id, bytes,
        |       CAST(floor(CAST(cum_before AS DOUBLE) / 4096.0) AS BIGINT)
        |         AS bin
        |FROM c ORDER BY file_id""".stripMargin,
    "cdc_snapshot_diff" ->
      """WITH prev AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
        |next AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal + 10.0 AS c_acctbal
        |  FROM customer WHERE c_custkey % 4 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, c_acctbal
        |  FROM customer WHERE c_custkey % 4 > 1
        |  UNION ALL
        |  SELECT CAST(n_nationkey AS BIGINT) + 1000000, 'NEW', 0.0
        |  FROM nation)
        |SELECT coalesce(p.c_custkey, n.c_custkey) AS c_custkey,
        |       CASE WHEN p.c_custkey IS NULL THEN 'insert'
        |            WHEN n.c_custkey IS NULL THEN 'delete'
        |            ELSE 'update' END AS change_type,
        |       p.c_mktsegment AS c_mktsegment_old,
        |       n.c_mktsegment AS c_mktsegment_new,
        |       p.c_acctbal AS c_acctbal_old,
        |       n.c_acctbal AS c_acctbal_new
        |FROM prev p FULL OUTER JOIN next n USING (c_custkey)
        |WHERE p.c_custkey IS NULL OR n.c_custkey IS NULL
        |   OR p.c_mktsegment IS DISTINCT FROM n.c_mktsegment
        |   OR p.c_acctbal IS DISTINCT FROM n.c_acctbal
        |ORDER BY 1""".stripMargin,
    "zonemap_prune_agg" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM documents WHERE doc_id BETWEEN 10 AND 29
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "layout_prune_agg" ->
      """SELECT source, count(*) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |       min(doc_id) AS first_doc
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin,
    "merge_upsert" ->
      """WITH updates AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal * 2 AS c_acctbal,
        |         c_mktsegment
        |  FROM customer WHERE c_custkey % 2 = 0
        |  UNION ALL
        |  SELECT CAST(n_nationkey AS BIGINT) + 1000000, 'new-' || n_name,
        |         n_nationkey, 0.0, 'BUILDING'
        |  FROM nation),
        |merged AS (
        |  SELECT * FROM updates
        |  UNION ALL
        |  SELECT * FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM updates u
        |                    WHERE u.c_custkey = c.c_custkey))
        |SELECT c_nationkey, count(*) AS n_customers,
        |       round(sum(c_acctbal), 2) AS total_bal
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
