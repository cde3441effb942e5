package graft

import graft.etl.{FileLifecycle, IngestPipeline, JdbcMirror}

/** CLI surface for the XML ingest path — the reference's primary
  * entry (`main_ingest.py:693-758`: positional xml path,
  * `--archive-dir`, hardcoded error dir and version gate), with the
  * lake/mirror split explicit:
  *
  * {{{
  * runMain graft.IngestDemo <xmlGlob> <lakeDir> [jdbcUrl]
  *   [--archive-dir <dir>] [--error-dir <dir>] [--require-version <v>]
  * }}}
  *
  * Runs the full batch pipeline and prints the resulting lake state
  * (per-tag counts, FK edges, audit rows). With a jdbcUrl it also
  * mirrors the batch (A12-A17) and the audit into that database; with
  * `--require-version` the mirror refuses unless the version is
  * registered in SchemaVersions (the reference's gate,
  * `main_ingest.py:729-738`). With `--archive-dir`/`--error-dir`,
  * staged files move to the archive and parse-failed files to the
  * quarantine (A22, `main_ingest.py:101-139`).
  */
object IngestDemo {
  private val usage = "usage: IngestDemo <xmlGlob> <lakeDir> [jdbcUrl] " +
    "[--archive-dir <dir>] [--error-dir <dir>] [--require-version <v>]"

  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args, usage, positional = 2 to 3,
      valueKeys = Set("--archive-dir", "--error-dir", "--require-version"))
    val flags = a.values
    val Seq(xmlGlob, lakeDir) = a.positional.take(2)
    val jdbcUrl = a.positional.lift(2)
    // the version gate lives in the JDBC mirror — a gated run without a
    // mirror target would silently ingest ungated, so refuse up front
    require(flags.get("--require-version").isEmpty || jdbcUrl.nonEmpty,
      s"--require-version needs a jdbcUrl (the gate guards the mirror)\n$usage")

    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val r = IngestPipeline.ingestDirectory(spark, xmlGlob, lakeDir)
    println(s"staged=${r.filesStaged.size} errored=${r.filesErrored.size} elements=${r.elementCount}")

    println("--- per-tag counts ---")
    spark.read.parquet(IngestPipeline.elementsPath(lakeDir))
      .groupBy("table_name").count().orderBy("table_name")
      .collect().foreach(r => println(s"${r.get(0)}: ${r.get(1)}"))

    println("--- fk edges ---")
    spark.read.parquet(IngestPipeline.fkEdgesPath(lakeDir))
      .orderBy("child_table").collect()
      .foreach(r => println(s"${r.get(0)} -> ${r.get(1)}"))

    jdbcUrl.foreach { url =>
      val cfg = JdbcMirror.MirrorConfig(url,
        dialect = VendorImportMain.dialectFor(url),
        requireSchemaVersion = flags.get("--require-version"))
      val mirrored = JdbcMirror.mirrorBatch(
        spark.read.parquet(IngestPipeline.elementsPath(lakeDir)), cfg)
      println(s"--- jdbc mirror: ${mirrored.toSeq.sorted.mkString(", ")} ---")
      // the reference's log_processed_file: audit rows land in the DB's
      // XMLFilesProcessed control table too, keyed on ProcessedFileID
      JdbcMirror.mirrorAudit(
        spark.read.parquet(IngestPipeline.auditPath(lakeDir)), cfg)
    }

    // A22 lifecycle AFTER the lake (and optional mirror) committed:
    // a move-then-fail would leave the file neither ingested nor
    // re-ingestable from the landing dir (the reference moves inside
    // its per-file tx boundary for the same reason)
    flags.get("--archive-dir").foreach { dir =>
      r.filesStaged.foreach(f => println(
        s"archived: ${FileLifecycle.archive(spark, f, dir)}"))
    }
    flags.get("--error-dir").foreach { dir =>
      r.filesErrored.foreach(f => println(
        s"quarantined: ${FileLifecycle.quarantine(spark, f, dir)}"))
    }

    println("--- audit ---")
    spark.read.parquet(IngestPipeline.auditPath(lakeDir))
      .select("original_file_name", "status").orderBy("original_file_name")
      .collect().foreach(r => println(s"${r.get(0)}: ${r.get(1)}"))

    spark.stop()
  }
}
