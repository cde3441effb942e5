package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.Search
import graft.ops.Search.TextIndex

/** Streaming maintenance of the BM25 inverted index
  * ([[graft.ops.Search]]): each micro-batch of landing documents is
  * indexed ONCE ([[Search.buildIndex]] — one tokenize pass) and its
  * PARTIAL relations (tf, lens, per-batch df) commit through the
  * [[StreamStateDirs]] marker protocol, the marker (`stats`) carrying
  * the batch's document and token counts. No read-modify-write ever
  * happens on the hot path: the df merge [[Search.mergeIndex]]
  * performs batch-by-batch is deferred to [[loadIndex]], which
  * reconstructs the full index by appending tf/lens and term-summing
  * the per-batch df partials — the same algebra, proven equal to a
  * direct whole-corpus build by t15's shared oracle and pinned across
  * micro-batches by `SearchStreamsSpec`.
  *
  * Contract: document ids must be unique ACROSS batches (exact-dedup
  * the stream first — [[PipelineStreams.settleBatch]] is the settle
  * step for that); null-text rows are excluded by buildIndex.
  *
  * At 100 TB this is the index-refresh daily: partial relations are
  * bounded by the BATCH, reads compact them with one term-keyed sum,
  * and [[compact]] periodically folds old batch partitions into a
  * base partition without changing any reader.
  */
object SearchStreams {

  private[streaming] val layout = StreamStateDirs.Layout("stats", Seq(
    StreamStateDirs.Relation("tf", StructType(Seq(
      StructField("id", LongType), StructField("term", StringType),
      StructField("tf", LongType))), StreamStateDirs.append),
    StreamStateDirs.Relation("df", StructType(Seq(
      StructField("term", StringType), StructField("df", LongType))),
      StreamStateDirs.keyed("term")(sum("df").as("df"))),
    StreamStateDirs.Relation("lens", StructType(Seq(
      StructField("id", LongType), StructField("dl", LongType))),
      StreamStateDirs.append)),
    scalars = Seq("n", "toks"))

  /** Start the index-maintenance stream over `docs` (a streaming frame
    * with (idCol: long, textCol: string)).
    */
  def indexStream(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val sc = batch.sparkSession.sparkContext
        // buildIndex pins its exploded token relation with an eager
        // checkpoint that cannot be released before the writes below
        // consume it — so snapshot the persisted-RDD ids first and
        // release everything THIS BATCH pinned in the finally, or a
        // long-running stream accumulates one token-relation block set
        // per micro-batch until an (infrequent, 24 GB heap) GC
        val pinnedBefore = sc.getPersistentRDDs.keySet
        val b = batch.localCheckpoint(true)
        try {
          val ix = Search.buildIndex(b, idCol, textCol)
          layout.commit(b.sparkSession, indexDir, batchId,
            Seq(ix.tf, ix.df, ix.lens), Seq(ix.nDocs, ix.totalTokens))
        } finally {
          (sc.getPersistentRDDs.keySet -- pinnedBefore).foreach { id =>
            sc.getPersistentRDDs.get(id).foreach(_.unpersist(false))
          }
          ()
        }
      }
      .start()

  /** Reconstruct the merged [[TextIndex]] from every committed batch's
    * partials: tf/lens are appends (ids disjoint by contract), df
    * term-sums the per-batch partials, the scalars sum. Empty (no batch
    * yet) yields an empty index with nDocs 0. The residual race is a
    * RETRY overwriting an already-committed batch under a running
    * reader scan (transient FileNotFound; content is deterministic, so
    * re-running the read heals it).
    */
  def loadIndex(spark: SparkSession, indexDir: String): TextIndex = {
    val m = layout.marks(spark, indexDir)
    def rel(name: String) = layout.read(spark, indexDir, name, m.effective)
    TextIndex(rel("tf"), rel("df"), rel("lens"), m.sums(0), m.sums(1))
  }

  /** Fold every effective batch's partials into ONE base partition per
    * relation ([[StreamStateDirs.Layout.compact]]), so a long-running
    * index stream's state stays a bounded file set.
    */
  def compact(spark: SparkSession, indexDir: String): Unit =
    layout.compact(spark, indexDir)
}
