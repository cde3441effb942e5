package graft.etl

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end batch ingest (SURVEY §3.1's Spark-native lifecycle):
  * binaryFile scan -> executor-side flatten -> keyed overwrite against the
  * existing lake -> tall write partitioned by tag -> FK-edge table ->
  * audit append (last, so replays are detectable). The whole row path is
  * distributed; only per-file statuses with their PCR ids (one small
  * collect) and DDL metadata leave the executors.
  *
  * Storage layout under `lakeDir`:
  *   elements/   tall element table, partitioned by table_name
  *   fk_edges/   distinct (child_table, parent_table) pairs
  *   audit/      append-only XMLFilesProcessed mirror
  */
object IngestPipeline {

  case class Result(
      filesStaged: Seq[String],
      filesErrored: Seq[String],
      elementCount: Long)

  def elementsPath(lakeDir: String) = s"$lakeDir/elements"
  def fkEdgesPath(lakeDir: String) = s"$lakeDir/fk_edges"
  def auditPath(lakeDir: String) = s"$lakeDir/audit"

  private def hPath(s: String) = new org.apache.hadoop.fs.Path(s)

  private def renameOrThrow(fs: org.apache.hadoop.fs.FileSystem,
      src: String, dst: String): Unit =
    if (!fs.rename(hPath(src), hPath(dst)))
      throw new java.io.IOException(s"rename failed: $src -> $dst")

  /** Single-writer mutex over the lake's swap machinery: the tmp/old
    * swap dirs are shared, so two concurrent writers (a compaction next
    * to the always-on streaming ingest) could otherwise interleave
    * renames and swap a stale copy over fresh data. The lock is an
    * atomically-created marker file (`FileSystem.createNewFile` — atomic
    * on HDFS/local; object stores should use their conditional-put
    * equivalent); waiting writers poll until `lockTimeoutMs`, then fail
    * loudly naming the path so a crash-orphaned lock is an operator
    * decision, never a silent overwrite.
    */
  private[etl] def withLakeLock[A](spark: SparkSession, lakeDir: String,
      lockTimeoutMs: Long = 600000L)(body: => A): A = {
    val fs = hPath(lakeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(hPath(lakeDir))
    val lock = hPath(s"$lakeDir/.lake_lock")
    val deadline = System.currentTimeMillis() + lockTimeoutMs
    var acquired = false
    while (!acquired) {
      acquired = try fs.createNewFile(lock) catch { case _: java.io.IOException => false }
      if (!acquired) {
        if (System.currentTimeMillis() > deadline)
          throw new java.io.IOException(
            s"could not acquire lake lock $lock within ${lockTimeoutMs}ms; " +
              "another writer is active (or crashed leaving the lock — remove it manually)")
        Thread.sleep(200)
      }
    }
    try body finally fs.delete(lock, false)
  }

  /** A20 transaction parity on plain parquet: write the merged table to
    * a temp dir, then swap directories. Crash-safe ordering: the
    * previous `elements` is parked at `.elements_old` and only deleted
    * AFTER the new directory is in place; [[recoverLake]] undoes a
    * crash between the two renames. Rename results are checked — a
    * false return (e.g. cross-filesystem move) aborts instead of
    * silently reporting success.
    */
  private[etl] def writeMergedLake(spark: SparkSession, merged: DataFrame, lakeDir: String): Unit =
    withLakeLock(spark, lakeDir) { writeMergedLakeUnlocked(spark, merged, lakeDir) }

  /** The swap itself, for callers that ALREADY hold the lake lock
    * (compaction holds it across its read-rewrite-swap window).
    */
  private[etl] def writeMergedLakeUnlocked(spark: SparkSession, merged: DataFrame, lakeDir: String): Unit = {
    val elemsDir = elementsPath(lakeDir)
    val fs = hPath(lakeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpDir = s"$lakeDir/.elements_tmp"
    val bakDir = s"$lakeDir/.elements_old"
    fs.delete(hPath(tmpDir), true)
    TagTables.writeTall(merged, tmpDir, SaveMode.Overwrite)
    fs.delete(hPath(bakDir), true)
    if (fs.exists(hPath(elemsDir))) renameOrThrow(fs, elemsDir, bakDir)
    renameOrThrow(fs, tmpDir, elemsDir)
    fs.delete(hPath(bakDir), true)
  }

  /** Crash recovery: if a writer died between the two swap renames, the
    * lake has `.elements_old` (the only copy) and no `elements` —
    * restore it before doing anything else. Called on every ingest.
    */
  private[etl] def recoverLake(spark: SparkSession, lakeDir: String): Unit = {
    val fs = hPath(lakeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val elems = elementsPath(lakeDir)
    val bak = s"$lakeDir/.elements_old"
    if (!fs.exists(hPath(elems)) && fs.exists(hPath(bak)))
      renameOrThrow(fs, bak, elems)
  }

  /** The lake commit of both ingest paths, under the lake lock from the
    * existing-lake read through the swap (a concurrent writer can never
    * swap between our snapshot and our swap):
    *
    *  1. recover an interrupted swap ([[recoverLake]]);
    *  2. keep each PCR's rows from only the batch file that sorts last
    *     by `source_file`, so a PCR issued in two files of one batch
    *     has one defined winner. The winners come from `pcrFiles`, the
    *     batch's distinct (PCR, file) pairs, collected; when a PCR is in
    *     more than one file they are broadcast into the batch, otherwise
    *     the row path is left as it is;
    *  3. idempotent keyed overwrite (A15): evict lake rows of
    *     re-ingested PCRs, and rows of replayed files (container
    *     elements like the document root carry no PCR context; without
    *     the file-level eviction a same-file replay would duplicate
    *     them — the reference actually does accumulate such rows, but
    *     with fresh uuid4 ids; our deterministic ids make the
    *     file-level replace both safe and strictly more idempotent);
    *  4. the crash-safe tmp+swap ([[writeMergedLakeUnlocked]]): a plain
    *     dynamic partition overwrite would leave a tag partition
    *     untouched when the merge evicted ALL of its rows, resurrecting
    *     them.
    *
    * Returns the winner-filtered batch, which is what landed.
    */
  private def commitBatch(spark: SparkSession, batch: DataFrame,
      pcrFiles: Iterable[(String, String)],
      lakeDir: String): DataFrame = withLakeLock(spark, lakeDir) {
    recoverLake(spark, lakeDir)
    val contested = pcrFiles.groupBy(_._1).collect {
      case (pcr, files) if files.size > 1 => (pcr, files.map(_._2).max)
    }
    val kept =
      if (contested.isEmpty) batch
      else {
        import spark.implicits._
        val winners = contested.toSeq.toDF("pcr_uuid_context", "__winner")
        batch.join(broadcast(winners), Seq("pcr_uuid_context"), "left")
          .where(col("__winner").isNull || col("__winner") === col("source_file"))
          .select(batch.columns.map(col).toSeq: _*)
      }
    val elemsDir = elementsPath(lakeDir)
    val merged =
      if (hPath(elemsDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(hPath(elemsDir)))
        KeyedOverwrite.multiKey(spark.read.schema(batch.schema).parquet(elemsDir),
          kept, Seq("source_file", "pcr_uuid_context"))
      else kept
    writeMergedLakeUnlocked(spark, merged, lakeDir)
    kept
  }

  def ingestDirectory(
      spark: SparkSession,
      xmlGlob: String,
      lakeDir: String,
      idGen: XmlFlatten.IdGen = XmlFlatten.DeterministicId,
      schemaVersionId: Option[Int] = Some(1)): Result = {

    // ONE parse pass: (file, md5, elements) cached, statuses and the
    // tall table both derive from it (parsing twice would double the
    // dominant ingest cost; md5 is also computed exactly once per file).
    import spark.implicits._
    val parsed = spark.read.format("binaryFile").load(xmlGlob)
      .select("path", "content")
      .as[(String, Array[Byte])]
      .map { case (p, bytes) =>
        val md5 = NemsisXmlReader.md5Hex(bytes)
        (p, md5, XmlFlatten.parse(bytes, p, md5, idGen))
      }
      .persist()
    val statuses = parsed.map { case (p, m, es) =>
      (p, m, es.size.toLong, es.flatMap(_.pcr_uuid_context).distinct)
    }.collect()
    val ok = statuses.filter(_._3 > 0)
    val bad = statuses.filter(_._3 == 0)
    val tall = parsed.flatMap(_._3).toDF()

    commitBatch(spark, tall,
      statuses.flatMap { case (p, _, _, pcrs) => pcrs.map(_ -> p) }, lakeDir)
    parsed.unpersist()

    val elemsDir = elementsPath(lakeDir)

    TagTables.fkEdges(spark.read.parquet(elemsDir))
      .write.mode(SaveMode.Overwrite).parquet(fkEdgesPath(lakeDir))

    val now = new Timestamp(System.currentTimeMillis())
    val auditRows = ok.map { case (p, m, _, _) =>
      Audit.AuditRow(XmlFlatten.DeterministicId.id(p, -1),
        p, m, now, Audit.Status.Staged, schemaVersionId)
    } ++ bad.map { case (p, m, _, _) =>
      Audit.AuditRow(XmlFlatten.DeterministicId.id(p, -1),
        p, m, now, Audit.Status.ErrorParsingEmpty, schemaVersionId)
    }
    Audit.append(Audit.rows(spark, auditRows.toSeq), auditPath(lakeDir))

    val n = spark.read.parquet(elemsDir).count()
    Result(ok.map(_._1).toSeq, bad.map(_._1).toSeq, n)
  }

  /** Streaming ingest (SURVEY A31): the reference's per-file shell loop is
    * exactly Structured Streaming's file source. Each micro-batch runs the
    * same keyed-overwrite ingest; `cleanSource=archive` is the reference's
    * `processed_xml_archive/` move done by the engine itself.
    */
  def streamingIngest(
      spark: SparkSession,
      landingDir: String,
      lakeDir: String,
      archiveDir: String,
      checkpointDir: String,
      idGen: XmlFlatten.IdGen = XmlFlatten.DeterministicId,
      mirror: Option[JdbcMirror.MirrorConfig] = None) = {
    import spark.implicits._
    spark.readStream
      .format("binaryFile")
      .option("pathGlobFilter", "*.xml")
      .option("cleanSource", "archive")
      .option("sourceArchiveDir", archiveDir)
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType))))
      .load(landingDir)
      .select("path", "content")
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        XmlFlatten.parse(bytes, p, NemsisXmlReader.md5Hex(bytes), idGen)
      }
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[ElementRecord], _: Long) =>
        val df = batch.toDF().localCheckpoint(true)
        val pcrFiles = df.where(col("pcr_uuid_context").isNotNull)
          .select("pcr_uuid_context", "source_file").distinct().collect()
          .map(r => (r.getString(0), r.getString(1)))
        val kept = commitBatch(df.sparkSession, df, pcrFiles, lakeDir)
        // optional relational mirror per micro-batch (A12-A17): safe to
        // run next to a concurrent backfill — per-batch staging names
        // and the batch-local column cache exist for exactly this
        mirror.foreach(cfg => JdbcMirror.mirrorBatch(kept, cfg))
        ()
      }
  }
}
