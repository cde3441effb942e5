package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Lake maintenance: small-file compaction for the tall element table.
  *
  * The streaming ingest writes one file set per micro-batch, and a
  * per-file batch loop does the same — over weeks a hot tag partition
  * accumulates thousands of small parquet files, and scan cost becomes
  * footer-reads instead of data. Compaction rewrites the lake with
  * ~`targetRowsPerFile` rows per file per tag: per-tag file counts are
  * derived from one row-count aggregation (driver sees only tag names —
  * schema-metadata-sized), rows are bucketed by a hash of the element
  * id, and the rewrite goes through the SAME crash-safe tmp+swap as
  * ingest ([[IngestPipeline.writeMergedLakeUnlocked]]) so a compaction crash
  * can never lose the lake. The lake LOCK is held for the whole
  * read-rewrite-swap window: a concurrent ingest (batch or streaming
  * micro-batch) blocks until compaction finishes instead of racing the
  * shared swap directories — without it, a micro-batch committing
  * between compaction's snapshot and its swap would be silently
  * overwritten by the stale compacted copy.
  *
  * Optionally sorts rows by `pcr_uuid_context` within each output file:
  * parquet row-group min/max stats then prune per-PCR point lookups —
  * the poor man's clustering key.
  */
object LakeMaintenance {

  final case class CompactionResult(filesBefore: Long, filesAfter: Long, rows: Long)

  private def dataFileCount(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }

  def compactElements(spark: SparkSession, lakeDir: String,
      targetRowsPerFile: Long = 1000000L,
      sortByPcr: Boolean = false): CompactionResult = {
    require(targetRowsPerFile >= 1, "targetRowsPerFile must be >= 1")
    // the lock is held across the whole read-rewrite-swap window:
    // without it a concurrent ingest micro-batch could commit between
    // our snapshot and our swap, and the swap would overwrite that
    // batch's rows with the stale compacted copy
    IngestPipeline.withLakeLock(spark, lakeDir) {
      IngestPipeline.recoverLake(spark, lakeDir)
      val elemsDir = IngestPipeline.elementsPath(lakeDir)
      val fs = new org.apache.hadoop.fs.Path(elemsDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(elemsDir)))
        CompactionResult(0, 0, 0) // nothing ingested yet: no-op
      else compactExisting(spark, lakeDir, elemsDir, targetRowsPerFile, sortByPcr)
    }
  }

  private def compactExisting(spark: SparkSession, lakeDir: String,
      elemsDir: String, targetRowsPerFile: Long, sortByPcr: Boolean): CompactionResult = {
      val before = dataFileCount(spark, elemsDir)
      val df = spark.read.parquet(elemsDir)
      // tags are few (schema-sized); rows never touch the driver
      val tagRows = df.groupBy("table_name").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val filesPerTag = tagRows.map { case (t, n) =>
        t -> math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile)
      }
      // shuffle-partition count is an Int: clamp instead of letting a
      // tiny target on a huge lake wrap negative (= one giant partition)
      val totalFiles = math.min(filesPerTag.valuesIterator.sum, 1000000L).toInt
      val bucketsOf = filesPerTag.foldLeft(lit(1L)) { case (acc, (t, n)) =>
        when(col("table_name") === t, lit(n)).otherwise(acc)
      }
      val bucketed = df
        .withColumn("__bucket", pmod(xxhash64(col("element_id")), bucketsOf))
        .repartition(math.max(1, totalFiles), col("table_name"), col("__bucket"))
      val shaped =
        if (sortByPcr) bucketed.sortWithinPartitions(col("table_name"), col("pcr_uuid_context"))
        else bucketed
      IngestPipeline.writeMergedLakeUnlocked(spark, shaped.drop("__bucket"), lakeDir)
      CompactionResult(before, dataFileCount(spark, elemsDir),
        tagRows.valuesIterator.sum)
  }
}
