package graft.streaming

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StructField, StructType, StringType}

import graft.ops.{Curation, Dedup, TextAnalysis}

/** The INCREMENTAL face of the composed curation pipeline
  * ([[graft.ops.Pipeline]]): the per-arrival stages — exact dedup
  * against everything ever seen, benchmark decontamination, quality
  * gate — run continuously over a landing stream via `foreachBatch`,
  * with cross-batch dedup membership persisted as a parquet
  * FINGERPRINT table between micro-batches (the same
  * persist-the-sketch-not-the-data pattern as q46's KMV round-trip;
  * SCALING.md "persists per-batch sketches and reaggregates THOSE").
  *
  * What stays batch: near-dup clustering (Pipeline stage 2) needs the
  * global connected-components fixpoint over the WHOLE corpus — a
  * continuously maintained CC is a different (and weaker) operator, so
  * the house split is: this stream settles arrivals incrementally, and
  * the periodic compaction job re-runs [[graft.ops.Pipeline.curate]]
  * over the settled corpus (which also re-assigns splits/shards, a
  * global layout decision by nature). Reference analogue: the per-file
  * ingest loop settles each file as it lands (`main_ingest.py:331-690`)
  * while schema-wide work (FK wiring) runs corpus-wide.
  *
  * Exactly-once: every write is a per-batch-id directory overwrite
  * (`.../batch_id=N`), so a retried micro-batch REPLACES its own
  * half-written output instead of appending a duplicate. The one trap
  * in that scheme is self-poisoning: if the STATE write of batch N
  * lands but the retry then reads it back, the whole batch anti-joins
  * against its own fingerprints and settles to empty — so state reads
  * filter `batch_id < N` (the partition column the layout gives us for
  * free). Determinism of the batch body (hash-based stages, no RNG)
  * makes the overwrite a true no-op on replay.
  */
object PipelineStreams {

  private val fpSchema = StructType(Seq(StructField("fingerprint", StringType)))

  /** Settle one batch against accumulated history: the batch-function
    * core shared by the stream (per micro-batch) and any catch-up
    * backfill. `historyFp` is the (fingerprint) relation of everything
    * previously seen — at scale yesterday's persisted key set, never
    * yesterday's text.
    *
    * Null-text rows are dropped at the door (their fingerprint is
    * NULL, which no anti join can ever match — see the inline note).
    *
    * Returns (curated, newFingerprints):
    *  - curated: `batch`'s columns, one canonical (min-`idCol`) row per
    *    unseen fingerprint, decontaminated against `benchmark` at
    *    `contaminationTau` and passing every
    *    [[TextAnalysis.qualityRules]] rule — Pipeline.curate stages
    *    1, 3, 4 with stage-identical semantics;
    *  - newFingerprints: the batch's fingerprints NOT already in
    *    history (all of them, including docs the gates dropped: a
    *    recurring duplicate of a rejected doc must stay rejected, not
    *    re-enter review every day).
    */
  def settleBatch(batch: DataFrame, benchmark: DataFrame, historyFp: DataFrame,
      idCol: String, textCol: String,
      contaminationTau: Double = 0.5): (DataFrame, DataFrame) = {
    val (s1, unseen) = stageOne(batch, benchmark, historyFp, idCol, textCol)

    // stage 3 (stage 2 is the batch compaction's job — see object doc):
    // benchmark decontamination, anti-join on the flagged ids; docs
    // under two words have no bigram and pass by definition.
    val flagged = Curation.contaminationScores(s1, benchmark, idCol, textCol)
      .where(col("overlap") >= contaminationTau)
      .select(col(idCol))
    val s3 = s1.join(flagged, Seq(idCol), "left_anti")

    // stage 4: quality gate — the conjunction of every rule.
    val curated = s3.where(qualityPass(textCol))

    (curated, unseen.select("fingerprint"))
  }

  /** Stage 1 shared by [[settleBatch]] and
    * [[incrementalCurateClustered]] (one copy — the two faces must not
    * drift): exact dedup of the batch against accumulated history.
    * Returns (s1 = the batch's canonical unseen rows, unseen = the
    * batch's NEW fingerprint/canonical-id relation — its fingerprints
    * are exactly the state delta to persist).
    */
  private def stageOne(batch: DataFrame, benchmark: DataFrame,
      historyFp: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    // streams run micro-batches on a CLONED session whose function
    // registry snapshot predates any lazy self-registration — pin the
    // native bigram hash on BOTH sessions plans analyze against here
    // (the micro-batch clone AND the session `benchmark` was built on;
    // eager select() analysis resolves each frame on its own session)
    graft.functions.TextHashExpressions.register(batch.sparkSession)
    graft.functions.TextHashExpressions.register(benchmark.sparkSession)
    graft.functions.VecExpressions.register(batch.sparkSession)
    graft.functions.VecExpressions.register(benchmark.sparkSession)
    // null text ⇒ NULL fingerprint, which an anti join can never match:
    // such a row would pass the history gate EVERY batch and append a
    // NULL state row each time (unbounded state, and it breaks the
    // "a recurring duplicate stays rejected" contract). The d09 rule
    // applies: null-text rows are dropped at the door.
    val live = batch.where(col(textCol).isNotNull)
    val hist = historyFp.select(col("fingerprint")).distinct()
    // in-batch canonical (min id per fingerprint), minus history — one
    // map-side-combined groupBy + one anti join on the pre-aggregated
    // key set (Dedup.incrementalNew's scale shape, fed the fingerprint
    // relation directly)
    val groups = Dedup.exactGroups(live, idCol, textCol)
    val unseen = groups.join(hist, Seq("fingerprint"), "left_anti")
    val s1 = live.join(
      unseen.select(col("canonical_id").as(idCol)), Seq(idCol))
    (s1, unseen)
  }

  /** The stage-4 quality conjunction, single-sourced. */
  private def qualityPass(textCol: String) =
    TextAnalysis.qualityRules
      .map { case (_, rule) => !rule(col(textCol)) }.reduce(_ && _)

  /** Run the incremental settle over a streaming `docs` frame (e.g.
    * [[graft.sources.Jsonl.readStream]] on a landing dir). Appends
    * curated docs to `outDir/batch_id=N` and new fingerprints to
    * `stateDir/batch_id=N` (both parquet, both idempotent overwrites —
    * see object doc). Read results with [[curated]] /
    * [[fingerprints]].
    */
  def incrementalCurate(docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      stateDir: String, outDir: String, checkpointDir: String,
      contaminationTau: Double = 0.5): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        // the batch frame is consumed by three branches (curated, state,
        // the groupBy inside both) — pin it once
        val b = batch.localCheckpoint(true)
        try {
          // `batch_id < current` guards the retry self-poisoning case
          // (state landed, output didn't): a replay must see exactly
          // the state the first attempt saw.
          val hist = fingerprints(spark, stateDir)
            .where(col("batch_id") < batchId)
            .select("fingerprint")
          val (cur, newFp) =
            settleBatch(b, benchmark, hist, idCol, textCol, contaminationTau)
          cur.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
          newFp.write.mode("overwrite").parquet(s"$stateDir/batch_id=$batchId")
        } finally { b.unpersist(); () }
      }
      .start()

  /** [[incrementalCurate]] composed with streaming LM maintenance:
    * after each batch settles, the batch's curated SURVIVORS train
    * that batch's LM count partials ([[ModelStreams.writeLmPartials]],
    * same layout/commit protocol as `lmStream`) — so the corpus-quality
    * model only ever sees text that passed dedup, decontamination, and
    * the quality gate (training the perplexity model on rejects skews
    * it toward exactly the text you filter). The model write happens
    * AFTER the state write inside the same idempotent batch, so a
    * retried batch replaces both; `ModelStreams.loadModel(modelDir)`
    * is then always the model of everything curated so far.
    */
  def incrementalCurateWithModel(docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      stateDir: String, outDir: String, modelDir: String,
      checkpointDir: String,
      contaminationTau: Double = 0.5): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.localCheckpoint(true)
        try {
          val hist = fingerprints(spark, stateDir)
            .where(col("batch_id") < batchId)
            .select("fingerprint")
          val (cur, newFp) =
            settleBatch(b, benchmark, hist, idCol, textCol, contaminationTau)
          // the curated batch feeds TWO writers (the output dir and the
          // LM trainer's tokenize pass) — pin it once
          val curCk = cur.localCheckpoint(true)
          try {
            curCk.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
            newFp.write.mode("overwrite").parquet(s"$stateDir/batch_id=$batchId")
            ModelStreams.writeLmPartials(
              curCk.select(col(idCol), col(textCol)), textCol, modelDir, batchId)
          } finally { curCk.unpersist(); () }
        } finally { b.unpersist(); () }
      }
      .start()

  /** [[incrementalCurate]] with the near-dup stage COMPOSED IN (round
    * 7 — previously deferred to the batch compaction by design; with
    * d16/d17/[[ClusterStreams]] proven, the keep-best stage settles per
    * batch too). Per micro-batch:
    *
    *  1. exact-dedup settle against the fingerprint state (stage 1,
    *     as [[incrementalCurate]]);
    *  2. the survivors' gate verdicts (decontamination + quality) are
    *     computed NOW — they are doc-local, so per-batch is exact — and
    *     persisted as a `__passes` flag on the CANDIDATE relation
    *     (`cands/batch_id=N`: stage-1 survivors + `__q` quality +
    *     flag). Candidates are persisted UNFILTERED because p01's stage
    *     order gates AFTER keep-best: a cluster whose best member fails
    *     a gate contributes nothing — the passing loser was already a
    *     near-dup drop;
    *  3. the survivors feed the cluster state
    *     ([[ClusterStreams.settleClusterBatch]] — persisted band-index
    *     probe + label-graph contraction), whose commit marker (written
    *     LAST) gates this batch's candidates too.
    *
    * Keep-best is RETROACTIVE (a later batch can deliver a better
    * cluster member), so winner selection is a READ-TIME fold —
    * [[curatedClustered]] joins the candidate relation against the
    * CURRENT labels, ranks members per cluster by (quality desc, id),
    * unions cluster non-members, then applies the persisted gate flag:
    * exactly [[graft.ops.Pipeline.curate]] stages 1–4 over the union of
    * all committed batches (spec-pinned, including a cross-batch
    * near-dup pair only the persisted index catches). State writes stay
    * ∝ batch; only the winner fold touches the (id-keyed, text-free…
    * except the doc row itself) candidate relation.
    */
  def incrementalCurateClustered(docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      stateDir: String, checkpointDir: String,
      contaminationTau: Double = 0.5): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.localCheckpoint(true)
        try {
          val hist = fingerprints(spark, s"$stateDir/fp")
            .where(col("batch_id") < batchId)
            .select("fingerprint")
          val (s1raw, unseen) = stageOne(b, benchmark, hist, idCol, textCol)
          // consumed by the gate scorer, the cands write and the
          // cluster settle's two banding passes — pin once
          val s1 = s1raw.localCheckpoint(true)
          try {
            val flagged = Curation
              .contaminationScores(s1, benchmark, idCol, textCol)
              .where(col("overlap") >= contaminationTau)
              .select(col(idCol), lit(true).as("__flagged"))
            val cands = s1.join(flagged, Seq(idCol), "left")
              .withColumn("__q", length(col(textCol)).cast("long"))
              .withColumn("__passes",
                col("__flagged").isNull && qualityPass(textCol))
              .drop("__flagged")
            cands.write.mode("overwrite")
              .parquet(s"$stateDir/cands/batch_id=$batchId")
            unseen.select("fingerprint").write.mode("overwrite")
              .parquet(s"$stateDir/fp/batch_id=$batchId")
            // cluster settle writes its commit marker LAST — the one
            // marker gating this batch's cands + fingerprints + labels
            // + bands (see compactClustered: fp folds are also
            // restricted to marker-vouched ids)
            ClusterStreams.settleClusterBatch(
              s1.select(col(idCol), col(textCol)), idCol, textCol,
              s"$stateDir/cluster", batchId)
          } finally { s1.unpersist(); () }
        } finally { b.unpersist(); () }
      }
      .start()

  /** The curated view of [[incrementalCurateClustered]]'s state:
    * Pipeline.curate stages 1–4 over every committed batch. Candidates
    * are admitted only for batch ids the cluster commit markers vouch
    * for (committed ∪ covered-by-a-base — so a compaction fold keeps
    * history readable and a crashed batch stays invisible), deduped
    * per id (latest-wins — base/original coexistence mid-compaction
    * changes nothing because the fold is per-id identical), then
    * cluster winners are ranked by (quality desc, id) against the
    * CURRENT labels, non-members pass through, and the persisted gate
    * flag applies last.
    */
  def curatedClustered(spark: SparkSession, stateDir: String,
      docSchema: StructType, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = ClusterStreams.layout.marks(spark, s"$stateDir/cluster")
    val valid = (m.effective ++ m.covered).distinct
    val candSchema = docSchema
      .add(StructField("__q", org.apache.spark.sql.types.LongType))
      .add(StructField("__passes", org.apache.spark.sql.types.BooleanType))
      .add(StructField("batch_id", org.apache.spark.sql.types.LongType))
    val w = Window.partitionBy(col(idCol)).orderBy(col("batch_id").desc)
    val cands = StreamStateDirs.readOrEmpty(spark, s"$stateDir/cands", candSchema)
      .where(col("batch_id").isin(valid: _*))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn", "batch_id")
    val labels = ClusterStreams.loadLabels(spark, s"$stateDir/cluster")
    val members = cands
      .join(labels.withColumnRenamed("id", idCol), Seq(idCol))
    val winners = Curation.keepBest(members, "label", idCol, col("__q"))
      .drop("label", "cluster_size")
    val singles = cands
      .join(labels.select(col("id").as(idCol)), Seq(idCol), "left_anti")
    winners.unionByName(singles)
      .where(col("__passes"))
      .drop("__q", "__passes")
  }

  /** Compaction for the composed state: fold the cluster state
    * ([[ClusterStreams.compact]] — marker protocol), the fingerprint
    * set ([[compact]]), then fold the candidate partitions under the
    * cluster base id so the marker keeps vouching for them. Candidate
    * rows are unique per id, so base/original coexistence at any crash
    * point reads identically through [[curatedClustered]]'s per-id
    * fold; a replay recomputes the same base id and finishes the
    * deletes.
    */
  def compactClustered(spark: SparkSession, stateDir: String,
      idCol: String): Unit = {
    ClusterStreams.compact(spark, s"$stateDir/cluster")
    val m = ClusterStreams.layout.marks(spark, s"$stateDir/cluster")
    if (m.effective.isEmpty) return
    val base = m.effective.min
    val valid = (m.effective ++ m.covered).distinct
    // BOTH row states fold ONLY marker-vouched partitions. Folding an
    // unvouched fp/batch_id=N (a batch that crashed after its fp write
    // but before its cluster commit) into the negative base would hand
    // the replayed batch its OWN fingerprints as history — the whole
    // batch would anti-join to empty and its documents silently vanish
    // (the poisoned-replay window). Unvouched dirs stay under their own
    // id: invisible to readers, excluded from the replay's
    // `batch_id < N` history read, and overwritten by the replay.
    foldVouched(spark, s"$stateDir/fp", valid, base, "fingerprint")
    foldVouched(spark, s"$stateDir/cands", valid, base, idCol)
  }

  /** Fold a per-batch-id row state's marker-vouched partitions into
    * `base`. Per-key dedup in the fold: a crash-replayed fold re-reads
    * its own base, and without it the base would accumulate duplicate
    * rows (harmless to readers — their per-key folds hide them — but
    * unbounded). Safe at every crash point: base+originals coexisting
    * read identically (set semantics), and a replay recomputes the
    * same base id and finishes the deletes.
    */
  private def foldVouched(spark: SparkSession, dir: String,
      valid: Seq[Long], base: Long, dedupCol: String): Unit = {
    // cast: bare partition discovery infers batch_id as INT (the
    // schema'd readers pin LONG); and ONLY a missing dir means "no
    // state" — any other read failure must propagate, not silently
    // skip the fold
    val ids = Try(spark.read.parquet(dir)
        .select(col("batch_id").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq) match {
      case scala.util.Success(s) => s
      case scala.util.Failure(e) if StreamStateDirs.pathMissing(e) => Seq.empty
      case scala.util.Failure(e) => throw e
    }
    val toFold = ids.filter(id => valid.contains(id) && id != base)
    // GC for dead debris: an unvouched id BELOW the vouched horizon
    // (max vouched id) can never be a live batch — in-flight and
    // future ids exceed every committed id within a checkpoint
    // lineage — so it is a crashed batch that was replayed under a
    // rewrite (its dir superseded) or abandoned; reclaim it. Unvouched
    // ids ABOVE the horizon are left alone: they may be the very next
    // batch mid-replay, and its own overwrite-then-commit reclaims
    // them.
    val horizon = valid.max
    ids.filter(id => !valid.contains(id) && id < horizon).foreach(id =>
      StreamStateDirs.delete(spark, s"$dir/batch_id=$id"))
    if (toFold.isEmpty) return
    val folded = spark.read.parquet(dir)
      .where(col("batch_id").isin((toFold :+ base).distinct: _*))
      .drop("batch_id").dropDuplicates(dedupCol).localCheckpoint(true)
    try folded.write.mode("overwrite").parquet(s"$dir/batch_id=$base")
    finally { folded.unpersist(); () }
    toFold.foreach(id => StreamStateDirs.delete(spark, s"$dir/batch_id=$id"))
  }

  /** All fingerprints ever settled, with their `batch_id` partition
    * column; empty (with the right schema) before the first batch.
    */
  def fingerprints(spark: SparkSession, stateDir: String): DataFrame =
    StreamStateDirs.readOrEmpty(spark, stateDir,
      fpSchema.add(StructField("batch_id", org.apache.spark.sql.types.LongType)))

  /** Fold every fingerprint partition into ONE base partition under a
    * fresh NEGATIVE batch id (stream ids are non-negative, so no
    * future batch collides, and `batch_id < N` history reads keep
    * including the base). Unlike [[SearchStreams.compact]] this needs
    * no commit-marker protocol: fingerprint membership is a SET, so a
    * reader racing the compaction that sees base AND originals
    * distincts to the identical history — every crash point is safe as
    * long as the base lands before any original is deleted, and a
    * replay (base id derives deterministically from the partition set)
    * overwrites the orphan and finishes the deletes.
    */
  def compact(spark: SparkSession, stateDir: String): Unit = {
    val all = fingerprints(spark, stateDir)
    val allIds = all.select("batch_id").distinct().collect()
      .map(_.getLong(0)).toIndexedSeq.sorted
    // NEVER fold the newest (max) batch partition: this layout has no
    // commit markers, so the newest partition may belong to a batch
    // whose streaming checkpoint hasn't committed — folding it into the
    // negative base would hand the replayed batch its own fingerprints
    // as history (`batch_id < N` admits the base) and the batch would
    // settle to empty. Only the newest id can be in that state (batches
    // are sequential: N+1 exists only after N's checkpoint commits), so
    // excluding it closes the window; the skipped partition folds on
    // the next compaction. (The composed layout has real markers —
    // see compactClustered — and doesn't need this conservatism.)
    if (allIds.isEmpty) return
    val ids = allIds.filterNot(id => id >= 0 && id == allIds.max)
    if (ids.size <= 1) return
    val base = math.min(ids.min, 0L) - 1L
    // eager checkpoint: fully materialize the fold before writing a new
    // partition under the root being read (no read-own-write listing)
    val folded = all.where(col("batch_id").isin(ids: _*))
      .select("fingerprint").distinct().localCheckpoint(true)
    try folded.write.mode("overwrite").parquet(s"$stateDir/batch_id=$base")
    finally { folded.unpersist(); () }
    ids.foreach(id => StreamStateDirs.delete(spark, s"$stateDir/batch_id=$id"))
  }

  /** The settled corpus so far (all batches' curated docs). `schema`
    * is the doc schema as written (input columns); `batch_id` rides
    * along from the directory layout.
    */
  def curated(spark: SparkSession, outDir: String, schema: StructType): DataFrame =
    StreamStateDirs.readOrEmpty(spark, outDir,
      schema.add(StructField("batch_id", org.apache.spark.sql.types.LongType)))
}
