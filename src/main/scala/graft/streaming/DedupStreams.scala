package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ops.Dedup

/** Streaming near-duplicate detection (SURVEY §2C streaming): the batch
  * MinHash-LSH banding (graft.ops.Dedup) is per-row column math, so it
  * composes into a readStream pipeline unchanged; what streaming adds is
  * MEMBERSHIP — which documents each band bucket has already seen — and
  * that lives in `flatMapGroupsWithState` keyed by (band_idx, band_key).
  *
  * Each arriving document emits one candidate pair per remembered
  * same-bucket member. Pairs match the batch operator exactly while
  * buckets stay under `maxBucketSize`; at the cap, arriving documents
  * still PAIR against the remembered members (recall against them is
  * kept) but are not added to membership, so state stays bounded — the
  * only loss is pairs among the 65th+ members of one bucket, which in
  * batch terms is a bucket the banding parameters should have split
  * anyway. A pair surfacing via two bands arrives once per band (batch
  * d02 applies `distinct()`; streaming consumers compose
  * [[exactlyOncePairs]] downstream, or treat pairs as idempotent
  * upserts).
  *
  * State lifetime: pass `stateTtl` (e.g. "2 hours") to expire idle
  * buckets via processing-time timeout — without it the bucket-key
  * space grows with the corpus forever. An expired bucket forgets its
  * members, so near-dups separated by more than the TTL are missed:
  * the standard retention/recall tradeoff, chosen by the caller. At
  * cluster scale the state store is RocksDB-backed and sharded by the
  * group key — the same partition key the batch equi-join shuffles on.
  */
object DedupStreams {

  final case class BucketState(ids: Seq[Long])
  final case class CandidatePair(id_a: Long, id_b: Long, band_idx: Int)

  val DefaultMaxBucketSize = 64

  /** Consumer-side exactly-once pairs: [[nearDupPairs]] emits a pair
    * once per SHARED BAND (identical documents surface up to
    * [[graft.ops.Dedup.Bands]] times — the streaming twin of batch
    * d02's `distinct()`). This collapses the stream to one row per
    * (id_a, id_b) with `dropDuplicatesWithinWatermark`: dedup state is
    * keyed only by the pair and EXPIRES with the watermark, instead of
    * `dropDuplicates`' grow-forever key set — the form that survives an
    * unbounded stream. Multi-band duplicates of one pair are emitted
    * together (the pair materializes in the micro-batch where its
    * second document arrives), so any non-zero watermark delay
    * suffices; re-emissions can't outlive it.
    *
    * The event-time column is the batch timestamp (`current_timestamp`
    * is fixed per micro-batch in streaming), so callers need no
    * timestamp on the input documents.
    */
  def exactlyOncePairs(pairs: Dataset[CandidatePair],
      watermarkDelay: String = "10 minutes"): DataFrame =
    pairs.withColumn("emit_ts", current_timestamp())
      .withWatermark("emit_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("id_a", "id_b")
      .select("id_a", "id_b")

  /** Streaming twin of [[graft.ops.Curation.lshDecontaminateIds]]:
    * flag arriving documents that share any MinHash band bucket with a
    * STATIC benchmark corpus — the deploy-time guard that keeps eval
    * data out of a continuously ingested training stream. The benchmark
    * band keys are a static broadcast side of a stream-static semi
    * join, so the stream needs NO state for membership at all; the only
    * state is the per-id emit dedup (a doc hitting several bands must
    * flag once), which expires with the watermark rather than growing
    * with the stream. Returns an append stream of flagged (id) rows.
    *
    * The benchmark band keys are CACHED here: stream-static joins
    * re-evaluate the static subplan every micro-batch, and re-shingling
    * the benchmark per batch is pure waste. The cache (a few band-key
    * strings per bench doc) stays pinned for the stream's lifetime;
    * unpersist it via `spark.catalog.clearCache()` or by keeping your
    * own handle if the benchmark is replaced mid-stream.
    */
  def decontaminationFlags(docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val benchKeys = Dedup.bandKeys(benchmark, idCol, textCol)
      .select("band_idx", "band_key").distinct().cache()
    Dedup.bandKeys(docs.select(col(idCol), col(textCol)), idCol, textCol)
      .join(broadcast(benchKeys), Seq("band_idx", "band_key"), "left_semi")
      .withColumn("emit_ts", current_timestamp())
      .withWatermark("emit_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("id")
      .select("id")
  }

  /** Streaming twin of [[graft.ops.Dedup.incrementalNew]] (batch d09):
    * arriving documents are dropped when their content fingerprint is
    * already in the STATIC history — a stream-static LEFT ANTI join, so
    * membership needs no streaming state at all — and within-stream
    * duplicates collapse via watermark-bounded fingerprint dedup.
    * Emits (id, fingerprint) of first-seen-new documents.
    *
    * Two deliberate divergences from batch d09, both inherent to
    * unbounded input: the canonical copy is the FIRST ARRIVAL (batch
    * picks min id — a stream can't hold the min of what hasn't
    * arrived), and two copies separated by more than the watermark
    * delay both pass (the state that would catch them has expired —
    * the retention/recall tradeoff, caller-chosen via
    * `watermarkDelay`; the daily batch settle (d09) re-canonicalizes).
    * The history fingerprints are CACHED (stream-static joins
    * re-evaluate the static subplan each micro-batch); the returned
    * handle's `release()` unpersists them — call it after stopping the
    * stream, BEFORE rebuilding with a refreshed daily history, or the
    * old fingerprint cache outlives its stream (and same-plan caching
    * could even serve the stale set to the new one).
    */
  final case class IncrementalNewStream(stream: DataFrame, release: () => Unit)

  def incrementalNew(docs: DataFrame, history: DataFrame,
      idCol: String, textCol: String,
      watermarkDelay: String = "10 minutes"): IncrementalNewStream = {
    import graft.ops.TextAnalysis
    val hist = history.where(col(textCol).isNotNull)
      .select(TextAnalysis.fingerprintMd5(col(textCol)).as("fingerprint"))
      .distinct().cache()
    val stream = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        TextAnalysis.fingerprintMd5(col(textCol)).as("fingerprint"))
      .join(hist, Seq("fingerprint"), "left_anti")
      .withColumn("emit_ts", current_timestamp())
      .withWatermark("emit_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("fingerprint")
      .select("id", "fingerprint")
    IncrementalNewStream(stream, () => { hist.unpersist(); () })
  }

  /** docs: streaming DataFrame with (idCol long, textCol string).
    * Returns an append-mode stream of [[CandidatePair]]s.
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxBucketSize: Int = DefaultMaxBucketSize,
      stateTtl: Option[String] = None): Dataset[CandidatePair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val banded = Dedup.bandKeys(docs.select(col(idCol), col(textCol)), idCol, textCol)
      .select(col("band_idx"), col("band_key"), col("id"))
      .as[(Int, String, Long)]
    val timeout =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    banded
      .groupByKey { case (bandIdx, bandKey, _) => (bandIdx, bandKey) }
      .flatMapGroupsWithState[BucketState, CandidatePair](
        OutputMode.Append, timeout) {
        case ((bandIdx, _), rows, state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var seen = state.getOption.map(_.ids).getOrElse(Seq.empty)
            val out = Seq.newBuilder[CandidatePair]
            rows.foreach { case (_, _, id) =>
              if (!seen.contains(id)) {
                seen.foreach { other =>
                  out += CandidatePair(math.min(id, other), math.max(id, other), bandIdx)
                }
                if (seen.size < maxBucketSize) seen = seen :+ id
              }
            }
            state.update(BucketState(seen))
            stateTtl.foreach(state.setTimeoutDuration)
            out.result().iterator
          }
      }
  }

  /** Streaming maintenance of the winnowed-fingerprint share index
    * (d29/d33's state): each micro-batch of landing documents is
    * fingerprinted ONCE and its per-hash distinct-doc counts land as
    * a partial under `indexDir/batch_id=N` — the per-batch-id
    * idempotent layout ([[SearchStreams]]' discipline), so a retried
    * batch replaces its own output and no read-modify-write ever
    * happens on the hot path. Each partial is STAGED to a temp dir
    * and renamed into place ([[publishPartial]]) — a reader never
    * observes a half-written partial, even mid-commit or during a
    * failure replay. [[loadWinnowIndex]] merges partials with ONE
    * hash-keyed sum — d33's disjoint-doc algebra, spec-pinned equal
    * to the batch index. Contract: doc ids unique across batches
    * (settle the stream with exact dedup first, as SearchStreams).
    *
    * `k`/`w` default to the shared batch constants
    * ([[graft.ops.Dedup.WinnowK]]/[[graft.ops.Dedup.WinnowW]]) so the
    * streamed index cannot silently drift from the d29/d33 batch index
    * it is spec-pinned to equal; override both sides together or
    * neither.
    */
  def winnowIndexStream(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, checkpointDir: String,
      k: Int = Dedup.WinnowK, w: Int = Dedup.WinnowW)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        publishPartial(
          Dedup.winnowIndex(Dedup.winnowFingerprints(batch, idCol, textCol, k, w)),
          indexDir, batchId)
      }
      .start()

  /** Write a per-batch partial via stage-then-rename: the parquet
    * lands under `indexDir/.staging-batch_id=N`, then one filesystem
    * rename moves it to `indexDir/batch_id=N` (after dropping any
    * prior attempt's dir — replay-idempotent). Readers listing the
    * index dir see each partial either absent or complete, never
    * half-written; the dot-prefixed staging dir is invisible to
    * Spark's file listing even mid-write.
    */
  private[streaming] def publishPartial(partial: DataFrame,
      indexDir: String, batchId: Long): Unit = {
    val conf = partial.sparkSession.sparkContext.hadoopConfiguration
    val staged = new org.apache.hadoop.fs.Path(
      s"$indexDir/.staging-batch_id=$batchId")
    val committed = new org.apache.hadoop.fs.Path(
      s"$indexDir/batch_id=$batchId")
    val fs = committed.getFileSystem(conf)
    partial.write.mode("overwrite").parquet(staged.toString)
    if (fs.exists(committed)) fs.delete(committed, true)
    require(fs.rename(staged, committed),
      s"failed to publish index partial $staged -> $committed")
  }

  /** The full share index from the partial layout: one sum per hash.
    * Readable while the stream runs (partials are staged and renamed
    * in whole — see [[publishPartial]]); before the first batch
    * commits (index dir missing or empty) the index is EMPTY, not an
    * error.
    */
  def loadWinnowIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasPartial = fs.exists(p) && fs.listStatus(p)
      .exists(_.getPath.getName.startsWith("batch_id="))
    if (!hasPartial) {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("h", "nd")
    } else
      spark.read.parquet(indexDir)
        .groupBy("h").agg(sum("nd").as("nd"))
  }

  // --------------------------------------------------------------
  // CDC chunk index stream (d27/d28's state)
  // --------------------------------------------------------------

  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.types.{LongType, StringType, StructField,
    StructType}

  private[streaming] val cdcLayout = StreamStateDirs.Layout("marks", Seq(
    StreamStateDirs.Relation("chunks", StructType(Seq(
      StructField("source", StringType), StructField("h", StringType),
      StructField("cnt", LongType), StructField("len", LongType))),
      StreamStateDirs.keyed("source", "h")(
        sum("cnt").as("cnt"), min("len").as("len")))))

  /** Streaming maintenance of the content-defined-chunk index
    * (d27/d28's state — [[graft.ops.Dedup.cdcChunkIndex]]): each
    * micro-batch of landing documents is chunked ONCE and its
    * per-(source, chunk-hash) (cnt, len) partial commits under
    * `indexDir` through the [[StreamStateDirs]] marker protocol.
    * [[loadCdcChunkIndex]] merges committed partials with d28's
    * algebra (counts add, lengths min — content-determined, so min is
    * a no-op across sides); [[compactCdcChunkIndex]] folds them into
    * one base partition: the fourth incremental index family on the
    * same operational story as t15 (BM25), d33 (winnow) and the member
    * states.
    *
    * `w`/`divisor` default to the shared batch constants
    * ([[graft.ops.Dedup.CdcW]]/[[graft.ops.Dedup.CdcDivisor]]) so the
    * streamed index cannot drift from the d27/d28 batch index it is
    * spec-pinned to equal.
    */
  def cdcChunkIndexStream(docs: DataFrame, indexDir: String,
      checkpointDir: String, w: Int = Dedup.CdcW,
      divisor: Int = Dedup.CdcDivisor)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        cdcLayout.commit(batch.sparkSession, indexDir, batchId,
          Seq(Dedup.cdcChunkIndex(batch, w, divisor)))
      }
      .start()

  /** The full chunk index: committed batches merged by the d28
    * algebra. Empty before the first commit, never an error.
    */
  def loadCdcChunkIndex(spark: SparkSession, indexDir: String): DataFrame =
    cdcLayout.load(spark, indexDir, "chunks")

  /** Fold every committed partial into ONE base partition
    * ([[StreamStateDirs.Layout.compact]]).
    */
  def compactCdcChunkIndex(spark: SparkSession, indexDir: String): Unit =
    cdcLayout.compact(spark, indexDir)

  // --------------------------------------------------------------
  // cross-span gram index stream (d36's state)
  // --------------------------------------------------------------

  private[streaming] val crossSpanLayout = StreamStateDirs.Layout("marks", Seq(
    StreamStateDirs.Relation("grams", StructType(Seq(
      StructField("source", StringType), StructField("gram", StringType),
      StructField("n_docs", LongType))),
      StreamStateDirs.keyed("source", "gram")(sum("n_docs").as("n_docs")))))

  /** Streaming maintenance of the cross-span gram index (d36's state
    * — [[graft.ops.SuffixArray.crossSpanIndex]]): each micro-batch of
    * landing documents is gram-counted ONCE and its per-(source, gram)
    * distinct-doc partial commits under `indexDir` through the
    * [[StreamStateDirs]] marker protocol. The fifth incremental index
    * family on the same operational story as t15 (BM25), d33 (winnow)
    * and d28 (CDC). [[loadCrossSpanIndex]] sum-merges committed
    * partials (d36's disjoint-doc algebra —
    * [[graft.ops.SuffixArray.crossSpanIndexMerge]], spec-pinned equal
    * to the batch index); [[compactCrossSpanIndex]] folds them into
    * one base partition. Contract: doc ids unique across batches (each
    * doc lands exactly once — settle with exact dedup first), or
    * per-(source, gram) counts double-count, exactly as the batch
    * merge states.
    */
  def crossSpanIndexStream(docs: DataFrame, indexDir: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text", srcCol: String = "source",
      minLen: Int = 16,
      giantThreshold: Long = graft.ops.SuffixArray.GiantGroupThreshold)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        crossSpanLayout.commit(batch.sparkSession, indexDir, batchId, Seq(
          graft.ops.SuffixArray.crossSpanIndex(batch, idCol, textCol, srcCol,
            minLen, giantThreshold)))
      }
      .start()

  /** The full cross-span index: committed batches merged by d36's sum
    * algebra. Empty before the first commit, never an error. Feed the
    * result to [[graft.ops.SuffixArray.crossDocSpanRemovalFromIndex]] —
    * the re-thresholding (`n_docs >= 2`) happens there, at read, so
    * partials keep singleton grams that a LATER batch may complete
    * into multi-doc evidence.
    */
  def loadCrossSpanIndex(spark: SparkSession, indexDir: String)
      : DataFrame =
    crossSpanLayout.load(spark, indexDir, "grams")

  /** Fold every committed cross-span partial into ONE base partition
    * ([[StreamStateDirs.Layout.compact]]).
    */
  def compactCrossSpanIndex(spark: SparkSession, indexDir: String): Unit =
    crossSpanLayout.compact(spark, indexDir)
}
