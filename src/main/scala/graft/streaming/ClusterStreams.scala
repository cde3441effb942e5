package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
  StructField, StructType}

import graft.ops.Dedup

/** Streaming near-dup CLUSTER maintenance — d16 + d17 composed over a
  * landing stream: the full incremental story for the dedup family's
  * hardest operator. Per micro-batch:
  *
  *  1. the batch probes the PERSISTED band index
  *     ([[Dedup.incrementalMinHashCandidates]] — batch×history via one
  *     bucket equi-join + batch×batch; history×history never
  *     recomputes),
  *  2. the current label relation updates by label-graph contraction
  *     ([[Dedup.incrementalClusters]] — CC on the batch-edge-sized
  *     lifted graph only),
  *  3. the batch's band rows append to the index and the batch's label
  *     DELTA (new ids + ids whose label changed) lands under its batch
  *     id — never a full label rewrite, so state writes are ∝ the
  *     batch's touched components.
  *
  * Both relations, `bands` and `labels`, commit under one marker
  * through the [[StreamStateDirs]] protocol (partials first, marker
  * last; a replayed batch overwrites its own dirs before re-committing).
  *
  * The label merge rule is LATEST-WINS per id (row_number over
  * batch_id desc): a later delta supersedes an earlier label, which is
  * exactly the d17 update semantics. Bands append.
  *
  * Contract (d16's): ids are unique across the stream (exact-dedup
  * upstream — [[PipelineStreams]]'s settle stage provides it);
  * [[loadLabels]] is spec-pinned equal to the BATCH clustering
  * (`connectedComponents(minHashCandidatePairs(union))`) over all
  * committed batches, at every prefix of the stream. One state dir
  * belongs to one checkpoint lineage ([[StreamStateDirs]]).
  */
object ClusterStreams {

  private[streaming] val layout = StreamStateDirs.Layout("commits", Seq(
    StreamStateDirs.Relation("labels", StructType(Seq(
      StructField("id", LongType), StructField("label", LongType))),
      _.withColumn("__rn", row_number().over(
          Window.partitionBy(col("id")).orderBy(col("batch_id").desc)))
        .where(col("__rn") === 1)
        .select("id", "label")),
    StreamStateDirs.Relation("bands", StructType(Seq(
      StructField("id", LongType), StructField("band_idx", IntegerType),
      StructField("band_key", StringType))),
      StreamStateDirs.append)))

  /** Start cluster maintenance over a stream of documents
    * (idCol long, textCol string). Null texts carry no shingles and
    * are dropped (the batch operator's policy).
    */
  def clusterStream(docs: DataFrame, idCol: String, textCol: String,
      stateDir: String, checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val b = batch.where(col(textCol).isNotNull)
          .select(col(idCol).cast("long").as(idCol), col(textCol))
          .localCheckpoint(true) // banded twice (probe + append)
        try settleClusterBatch(b, idCol, textCol, stateDir, batchId)
        finally { b.unpersist(); () }
      }
      .start()

  /** The per-batch cluster settle — probe, contract, write, commit —
    * shared by [[clusterStream]] and the composed curation stream
    * ([[PipelineStreams.incrementalCurateClustered]], which feeds it
    * the batch's exact-dedup SURVIVORS). `b` must be pre-filtered
    * (non-null text) and pinned (it is banded twice).
    */
  private[streaming] def settleClusterBatch(b: DataFrame, idCol: String,
      textCol: String, stateDir: String, batchId: Long): Unit = {
    val spark = b.sparkSession
    // state reads EXCLUDE this batch id (PipelineStreams'
    // batch_id < N guard): a batch replayed after its marker
    // landed but before the streaming checkpoint committed would
    // otherwise see ITSELF as history — every lifted edge would
    // collapse (la = lb), the recomputed delta would be empty, and
    // the overwrite would erase the batch's labels. Self-excluded,
    // the replay recomputes the identical delta (compaction bases
    // carry negative ids, so they always stay in).
    val histBands = loadBandsBelow(spark, stateDir, batchId)
    val histLabels = loadLabelsBelow(spark, stateDir, batchId)
    val newEdges = Dedup.incrementalMinHashCandidates(
      histBands, b, idCol, textCol)
    val updated = Dedup.incrementalClusters(histLabels, newEdges)
    // delta: ids absent from history or relabeled by this batch
    val delta = updated
      .join(histLabels.withColumnRenamed("label", "__old"),
        Seq("id"), "left")
      .where(col("__old").isNull || col("__old") =!= col("label"))
      .select(col("id"), col("label"))
    layout.commit(spark, stateDir, batchId, Seq(delta,
      Dedup.bandKeys(b, idCol, textCol).select("id", "band_idx", "band_key")))
  }

  /** The persisted band index over every committed batch — the
    * `historyBands` input of the next probe.
    */
  def loadBands(spark: SparkSession, stateDir: String): DataFrame =
    loadBandsBelow(spark, stateDir, Long.MaxValue)

  private[streaming] def loadBandsBelow(spark: SparkSession,
      stateDir: String, below: Long): DataFrame =
    layout.load(spark, stateDir, "bands", below)

  /** The current label relation: latest committed delta wins per id.
    * Spec-pinned equal to the batch clustering over the union of all
    * committed batches.
    */
  def loadLabels(spark: SparkSession, stateDir: String): DataFrame =
    loadLabelsBelow(spark, stateDir, Long.MaxValue)

  private[streaming] def loadLabelsBelow(spark: SparkSession,
      stateDir: String, below: Long): DataFrame =
    layout.load(spark, stateDir, "labels", below)

  /** Fold the effective partitions of both relations into one base
    * partition ([[StreamStateDirs.Layout.compact]]).
    */
  def compact(spark: SparkSession, stateDir: String): Unit =
    layout.compact(spark, stateDir)
}
