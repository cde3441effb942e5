package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType, TimestampType}

/** Streaming maintenance of the interaction graph behind
  * [[graft.ops.Graph.chainEdges]] (g01/g02): the g-family's
  * incremental face.
  *
  * Chain edges are NOT per-batch appendable — a group's chain depends
  * on its complete member list ordered by (first-seen, id), and members
  * of one (event type × hour) group arrive across micro-batches. What
  * IS algebraic is the MEMBER relation: (group, user) → min(ts) merges
  * by per-key MIN exactly as q42's min-state does. So each micro-batch
  * commits its member partial through the [[StreamStateDirs]] marker
  * protocol, and [[loadEdges]] merges the partials with one min-groupBy
  * and derives the chains with the SAME per-group lag windows as the
  * batch operator — spec-pinned equal to `Graph.chainEdges` on the
  * union.
  *
  * At 100 TB: partials are bounded by the batch's distinct
  * (group, user) pairs; the reader's merge is one map-side-combined
  * min; [[compact]] periodically folds old batch partitions into a
  * base partition without changing any reader. Groups older than the
  * event horizon stop changing, so downstream consumers (PageRank,
  * triangles) can incrementally freeze closed hours.
  */
object GraphStreams {

  private[streaming] val layout = StreamStateDirs.Layout("commits", Seq(
    StreamStateDirs.Relation("members", StructType(Seq(
      StructField("event_type", StringType), StructField("h", TimestampType),
      StructField("user_id", LongType), StructField("mts", TimestampType))),
      StreamStateDirs.keyed("event_type", "h", "user_id")(
        min(col("mts")).as("mts")))))

  /** Start member-state maintenance over `events` (a streaming frame
    * with (event_type string, ts timestamp, user_id long)).
    */
  def memberStream(events: DataFrame, stateDir: String,
      checkpointDir: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // mirror Graph.chainEdges' null guards: a null user would become
        // a null-dst edge, a null ts sorts nondeterministically — drop
        // both here so loadEdges == chainEdges(union) holds verbatim
        val part = batch
          .where(col("user_id").isNotNull && col("ts").isNotNull)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"),
            col("user_id"))
          .agg(min(col("ts")).as("mts"))
        layout.commit(batch.sparkSession, stateDir, batchId, Seq(part))
      }
      .start()

  /** Merge every committed batch's member partials (per-key MIN) and
    * derive the chain edges — identical output to
    * `Graph.chainEdges(unionOfBatches, ...)`. Empty state yields an
    * empty edge relation.
    */
  def loadEdges(spark: SparkSession, stateDir: String): DataFrame = {
    val members = layout.load(spark, stateDir, "members")
    val w = Window.partitionBy(col("event_type"), col("h"))
      .orderBy(col("mts"), col("user_id"))
    members
      .select(col("user_id").as("dst"),
        lag(col("user_id"), 1).over(w).as("src"))
      .where(col("src").isNotNull)
      .select("src", "dst").distinct()
  }

  /** Fold every effective batch partition into ONE base partition
    * ([[StreamStateDirs.Layout.compact]]) so a long-running stream's
    * state stays a bounded file set instead of a per-micro-batch
    * directory sprawl (the small-files death at scale).
    */
  def compact(spark: SparkSession, stateDir: String): Unit =
    layout.compact(spark, stateDir)
}
