package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

import graft.ops.LangModel
import graft.ops.LangModel.BigramModel

/** Streaming maintenance of the ALGEBRAIC model states — the bigram
  * LM's count relations ([[LangModel]], t16/t18) and the DSIR
  * bucket-count model ([[graft.ops.Curation.dsirModel]], c14): each
  * micro-batch of landing documents is counted ONCE and its per-batch
  * count partials commit through the [[StreamStateDirs]] marker
  * protocol (marker dir `stats`). Readers reconstruct the full model
  * with one term-keyed sum per relation — the q42/t15 rule: counts over
  * disjoint document sets SUM, so tomorrow's model is yesterday's
  * partials + the batch's, and the corpus is never re-tokenized
  * (t18's merged == direct proof carries over batch-by-batch; the
  * spec pins loadModel == LangModel.train(union)).
  *
  * Contract: batches are disjoint document sets (dedup upstream —
  * [[PipelineStreams.settleBatch]]); null-text rows carry no tokens.
  *
  * At 100 TB: partials are vocab-sized (LM) / `buckets`-sized (DSIR),
  * orders of magnitude under the batch; [[compact]] periodically folds
  * them into one base partition.
  */
object ModelStreams {

  import StreamStateDirs.{Layout, Relation, keyed}

  // the three layouts share the `stats` marker dir; each declares its
  // own count relations, so compaction can never fold a partial list
  private[streaming] val lmLayout = Layout("stats", Seq(
    Relation("uni", StructType(Seq(
      StructField("w1", StringType), StructField("cu", LongType))),
      keyed("w1")(sum("cu").as("cu"))),
    Relation("bi", StructType(Seq(
      StructField("w1", StringType), StructField("w2", StringType),
      StructField("cb", LongType))),
      keyed("w1", "w2")(sum("cb").as("cb")))))
  private[streaming] val dsirLayout = Layout("stats", Seq(
    Relation("buckets", StructType(Seq(
      StructField("__b", LongType), StructField("cr", LongType),
      StructField("ct", LongType))),
      keyed("__b")(sum("cr").as("cr"), sum("ct").as("ct")))))
  private[streaming] val histLayout = Layout("stats", Seq(
    Relation("hist", StructType(Seq(
      StructField("metric", StringType), StructField("v", LongType),
      StructField("c", LongType))),
      keyed("metric", "v")(sum("c").as("c")))))

  /** Start bigram-LM model maintenance over a streaming `docs` frame
    * with a `textCol` string column: per batch, train on the batch
    * alone and land its uni/bi count partials; the stats marker lands
    * LAST (the commit point).
    */
  def lmStream(docs: DataFrame, textCol: String, modelDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val sc = batch.sparkSession.sparkContext
        val pinnedBefore = sc.getPersistentRDDs.keySet
        val b = batch.localCheckpoint(true)
        try writeLmPartials(b, textCol, modelDir, batchId)
        finally {
          (sc.getPersistentRDDs.keySet -- pinnedBefore).foreach { id =>
            sc.getPersistentRDDs.get(id).foreach(_.unpersist(false))
          }
          ()
        }
      }
      .start()

  /** One batch's LM count partials, written in the stream layout
    * (uni, bi, then the stats commit marker LAST). The per-batch body
    * of [[lmStream]], exposed so composed flows — e.g.
    * [[PipelineStreams.incrementalCurateWithModel]], which trains on
    * each batch's curated SURVIVORS — reuse the exact same layout and
    * commit protocol.
    */
  def writeLmPartials(batch: DataFrame, textCol: String, modelDir: String,
      batchId: Long): Unit = {
    val m = LangModel.train(batch, textCol)
    lmLayout.commit(batch.sparkSession, modelDir, batchId, Seq(m.uni, m.bi))
  }

  /** Start DSIR bucket-model maintenance: per batch, one tokenize pass
    * into the (bucket, cr, ct) partial. `isTargetCol` is a boolean
    * column of `docs` marking the target-distribution slice.
    */
  def dsirStream(docs: DataFrame, textCol: String, isTargetCol: String,
      buckets: Int, stateDir: String, checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        dsirLayout.commit(batch.sparkSession, stateDir, batchId, Seq(
          graft.ops.Curation.dsirModel(batch, textCol, col(isTargetCol), buckets)))
      }
      .start()

  /** Streaming maintenance of VALUE HISTOGRAMS for quantile-threshold
    * segmentation ([[graft.ops.Segmentation]], e15's scalable form):
    * per batch, each metric column's (value → count) partial lands
    * under its batch id; the merged histogram (one keyed sum) feeds
    * [[graft.ops.Segmentation.thresholdsFromCounts]], so tile
    * thresholds over a GROWING corpus derive from vocabulary-of-values
    *-sized state — history is never re-scanned. Contract: metrics are
    * per-DOCUMENT (append-only — a re-aggregated per-user metric would
    * need retraction; use the batch operator over the settled user
    * relation for those). Null metric values carry no histogram mass.
    */
  def histStream(docs: DataFrame, metricCols: Seq[String], stateDir: String,
      checkpointDir: String): StreamingQuery = {
    require(metricCols.nonEmpty,
      "histStream needs at least one metric column")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val b = batch.localCheckpoint(true) // one pass per metric
        try histLayout.commit(batch.sparkSession, stateDir, batchId, Seq(
          metricCols.map { m =>
            b.where(col(m).isNotNull)
              .groupBy(lit(m).as("metric"), col(m).cast("long").as("v"))
              .agg(count(lit(1)).as("c"))
          }.reduce(_ unionByName _)))
        finally { b.unpersist(); () }
      }
      .start()
  }

  /** The merged value histogram of one metric — (v, c), one row per
    * distinct value. `ascending = false` negates the value axis (the
    * [[graft.ops.Segmentation]] orientation rule for DESC tiles).
    */
  def loadHistogram(spark: SparkSession, stateDir: String, metric: String,
      ascending: Boolean = true): DataFrame = {
    val merged = histLayout.load(spark, stateDir, "hist")
      .where(col("metric") === metric)
    if (ascending) merged.select(col("v"), col("c"))
    else merged.select((-col("v")).as("v"), col("c"))
  }

  /** Tile thresholds of one maintained metric, anytime: the merged
    * histogram through [[graft.ops.Segmentation.thresholdsFromCounts]]
    * — spec-pinned equal to the batch `exactThresholds` over the union
    * of all committed batches, through compaction.
    */
  def loadThresholds(spark: SparkSession, stateDir: String, metric: String,
      k: Int, ascending: Boolean = true): Seq[Long] =
    graft.ops.Segmentation.thresholdsFromCounts(
      loadHistogram(spark, stateDir, metric, ascending), k)

  /** Reconstruct the merged [[BigramModel]]: per-key sums over every
    * committed batch's partials; V is the merged unigram relation's
    * row count (vocabularies OVERLAP across batches, so V is NOT a
    * sum — it must be counted on the merged relation).
    */
  def loadModel(spark: SparkSession, modelDir: String): BigramModel = {
    val ids = lmLayout.marks(spark, modelDir).effective
    val uni = lmLayout.read(spark, modelDir, "uni", ids).localCheckpoint(true)
    BigramModel(uni, lmLayout.read(spark, modelDir, "bi", ids), uni.count())
  }

  /** Reconstruct the merged DSIR bucket model — (__b, cr, ct), ready
    * for [[graft.ops.Curation.dsirScoresWith]].
    */
  def loadDsirModel(spark: SparkSession, stateDir: String): DataFrame =
    dsirLayout.load(spark, stateDir, "buckets")

  /** Fold every effective batch's partials into one base partition
    * ([[StreamStateDirs.Layout.compact]]). The layout (LM, DSIR or
    * histogram) is the one whose relations exist under `dir`.
    */
  def compact(spark: SparkSession, dir: String): Unit = {
    val present = Seq(lmLayout, dsirLayout, histLayout).filter(
      _.relations.exists(r => StreamStateDirs.exists(spark, s"$dir/${r.name}")))
    require(present.size <= 1,
      s"$dir holds the relations of ${present.size} model layouts")
    present.foreach(_.compact(spark, dir))
  }
}
