package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Spark 4 moved the Column↔Expression constructors behind
  * `private[sql]`; custom native expressions still need them to be
  * exposed as user-facing `Column`s. This is the one sanctioned-shape
  * bridge (same technique Spark connector libraries use).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over an already-computed `InternalRow` RDD — a plan
    * barrier with LEAF statistics. `Dataset.localCheckpoint` in Spark
    * 4 rewrites the source plan's Statistics onto the checkpointed
    * `LogicalRDD` (`LogicalRDD.fromDataset` → originStats), so a
    * checkpoint-per-round iterative loop compounds size-in-bytes
    * estimates MULTIPLICATIVELY round over round — by round ~12 the
    * estimates are BigIntegers with millions of digits and the driver
    * livelocks inside stats multiplication before planning ever
    * finishes. Building the frame directly from the RDD (the same
    * `internalCreateDataFrame` Spark's own sources use) yields a
    * LogicalRDD with NO inherited stats, resetting the estimate to
    * the leaf default each round.
    */
  def internalDf(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** A copy of `spark` to start one streaming query on: its own SQLConf
    * (the caller's settings as they are now; none of the copy's changes
    * flow back) and the caller's streaming-query listeners, so they
    * still see the query. Spark registers a listener bus on the
    * SparkContext for the copy and never removes it; this one takes
    * itself off when the query terminates, its last event. A copy whose
    * query never started needs [[releaseStreams]].
    */
  def queryCopy(spark: SparkSession): SparkSession = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val copy = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    spark.streams.listListeners().foreach(copy.streams.addListener)
    copy.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        releaseStreams(copy)
    })
    copy
  }

  /** Take `spark`'s streaming-query listener bus off the SparkContext.
    * Spark registers one for every session whose query manager is
    * touched and never removes it: a session that starts a query, and
    * the copy a stateful query runs its batches on (through the state
    * store coordinator).
    */
  def releaseStreams(spark: SparkSession): Unit = {
    val streams = spark.streams
    val bus = streams.getClass.getDeclaredField("listenerBus")
    bus.setAccessible(true)
    spark.sparkContext.removeSparkListener(
      bus.get(streams).asInstanceOf[org.apache.spark.scheduler.SparkListenerInterface])
  }

  /** The copy of its session a query runs its micro-batches on. */
  def batchSession(q: org.apache.spark.sql.streaming.StreamingQuery): SparkSession =
    q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.sparkSessionForStream

  /** The materialized RDD behind a `localCheckpoint`ed frame (its
    * analyzed plan is the checkpoint's `LogicalRDD` leaf), if the
    * frame is one. `Dataset.unpersist` cannot release checkpoint
    * blocks — they belong to the truncated-lineage RDD, not the
    * CacheManager — so lifecycle owners (graft.ext.CorpusCache)
    * unpersist this RDD directly. */
  def checkpointedRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }
}
