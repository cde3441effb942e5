package graft.etl

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Golden end-to-end ingest (SURVEY §5): XML files -> tall lake ->
  * wide views / FK edges / audit; re-ingest of a changed PCR is
  * idempotent (A15).
  */
class IngestPipelineSpec extends AnyFunSuite with SparkSpec {

  private def xml(pcr: String, vital: String): String =
    s"""<EMSDataSet xmlns="http://www.nemsis.org">
       |  <PatientCareReport UUID="$pcr">
       |    <eVitals.01>$vital</eVitals.01>
       |    <eVitals.VitalGroup><eVitals.06 CodeType="c">120</eVitals.06></eVitals.VitalGroup>
       |  </PatientCareReport>
       |</EMSDataSet>""".stripMargin

  private def tmpDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  test("ingest -> tall table, wide views, fk edges, audit; re-ingest idempotent") {
    val landing = tmpDir("graft_landing")
    val lake = tmpDir("graft_lake").toString
    Files.writeString(landing.resolve("f1.xml"), xml("pcr-1", "v1"))
    Files.writeString(landing.resolve("f2.xml"), xml("pcr-2", "v2"))
    Files.writeString(landing.resolve("broken.xml"), "<a><b></a>")

    val r1 = IngestPipeline.ingestDirectory(spark, s"$landing/*.xml", lake)
    assert(r1.filesStaged.size == 2)
    assert(r1.filesErrored.size == 1)
    assert(r1.elementCount == 10) // 5 elements per good file

    val tall = spark.read.parquet(IngestPipeline.elementsPath(lake))
    assert(tall.count() == 10)
    assert(tall.select("table_name").distinct().count() == 5)

    // wide view honors the {table}_value naming contract
    val attrs = TagTables.attributeColumns(tall)
    val wide = TagTables.wideView(tall, "evitals_06", attrs("evitals_06"))
    assert(wide.columns.contains("evitals_06_value"))
    assert(wide.columns.contains("codetype"))
    assert(wide.select("evitals_06_value").collect().map(_.getString(0)).toSet == Set("120"))
    // attribute VALUES must survive the case-folding of column names
    assert(wide.select("codetype").collect().map(_.getString(0)).toSet == Set("c"))

    // per-tag queries prune to the tag's partition (the lake layout's
    // whole point: a tag filter reads one directory, not the table)
    val prunedPlan = tall.where(col("table_name") === "eVitals_01")
      .queryExecution.executedPlan.toString
    assert(prunedPlan.contains("PartitionFilters"), prunedPlan)
    assert(prunedPlan.contains("table_name"), prunedPlan)

    // fk edges = observed parent-child tag pairs
    val edges = spark.read.parquet(IngestPipeline.fkEdgesPath(lake))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(edges == Set(
      ("PatientCareReport", "EMSDataSet"),
      ("eVitals_01", "PatientCareReport"),
      ("eVitals_VitalGroup", "PatientCareReport"),
      ("eVitals_06", "eVitals_VitalGroup")))

    // audit has one row per file with the reference's statuses
    val audit = spark.read.parquet(IngestPipeline.auditPath(lake))
    assert(audit.count() == 3)
    assert(audit.where(col("status") === Audit.Status.Staged).count() == 2)
    assert(audit.where(col("status") === Audit.Status.ErrorParsingEmpty).count() == 1)

    // --- re-ingest pcr-1 with changed content: row count unchanged,
    // value updated, pcr-2 rows untouched (keyed overwrite, A15)
    val landing2 = tmpDir("graft_landing2")
    Files.writeString(landing2.resolve("f1b.xml"), xml("pcr-1", "v1-updated"))
    val r2 = IngestPipeline.ingestDirectory(spark, s"$landing2/*.xml", lake)
    // 11 = 10 - 4 evicted pcr-1-scoped rows + 5 new: the EMSDataSet root of
    // the superseded file carries no PCR context, so (as in the reference,
    // whose delete is PCR-scoped) it survives a re-ingest from a NEW file.
    assert(r2.elementCount == 11)

    val tall2 = spark.read.parquet(IngestPipeline.elementsPath(lake))
    assert(tall2.count() == 11)
    val v1 = tall2.where(col("table_name") === "eVitals_01" &&
      col("pcr_uuid_context") === "pcr-1").select("text_value").collect()
    assert(v1.map(_.getString(0)).toSeq == Seq("v1-updated"))
    val v2 = tall2.where(col("table_name") === "eVitals_01" &&
      col("pcr_uuid_context") === "pcr-2").select("text_value").collect()
    assert(v2.map(_.getString(0)).toSeq == Seq("v2"))
  }

  test("keyed overwrite leaves null-keyed rows alone") {
    import spark.implicits._
    val existing = Seq(("a", Some("k1")), ("b", None), ("c", Some("k2")))
      .toDF("v", "pcr_uuid_context")
    val incoming = Seq(("a2", Some("k1"))).toDF("v", "pcr_uuid_context")
    val out = KeyedOverwrite(existing, incoming)
    assert(out.collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet ==
      Set(("a2", Some("k1")), ("b", None), ("c", Some("k2"))))
  }

  test("jdbc ddl synthesis matches the reference contracts") {
    val create = JdbcDdl.createTagTable("public", "eVitals_06", Seq("CodeType"))
    assert(create.contains("CREATE TABLE IF NOT EXISTS \"public\".\"evitals_06\""))
    assert(create.contains("\"element_id\" TEXT PRIMARY KEY"))
    assert(create.contains("\"evitals_06_value\" TEXT"))
    assert(create.contains("\"codetype\" TEXT"))

    val fk = JdbcDdl.addForeignKey("public", "eVitals_06", "eVitals_VitalGroup")
    assert(fk.contains("\"fk_eVitals_06_eVitals_VitalGroup\""))
    assert(fk.contains("ON DELETE CASCADE"))
    assert(JdbcDdl.commentOnTable("public", "T", "a/b'c") ==
      "COMMENT ON TABLE \"public\".\"t\" IS 'a/b''c';")
  }

  test("a PCR issued in two files of one batch keeps only the file that sorts last") {
    def vitals(lake: String, pcr: String) =
      spark.read.parquet(IngestPipeline.elementsPath(lake))
        .where(col("table_name") === "eVitals_01" && col("pcr_uuid_context") === pcr)
        .select("text_value").collect().map(_.getString(0)).toSeq
    def pcrRows(lake: String, pcr: String) =
      spark.read.parquet(IngestPipeline.elementsPath(lake))
        .where(col("pcr_uuid_context") === pcr).count()

    // into an empty lake: 4 PCR-scoped rows of dupB + one root per file
    val landing = tmpDir("graft_dup_landing")
    val lake = tmpDir("graft_dup_lake").toString
    Files.writeString(landing.resolve("dupA.xml"), xml("pcr-9", "old"))
    Files.writeString(landing.resolve("dupB.xml"), xml("pcr-9", "new"))
    Files.writeString(landing.resolve("other.xml"), xml("pcr-3", "x"))
    val r1 = IngestPipeline.ingestDirectory(spark, s"$landing/*.xml", lake)
    assert(vitals(lake, "pcr-9") == Seq("new"))
    assert(pcrRows(lake, "pcr-9") == 4)
    assert(r1.elementCount == 4 + 2 + 5) // pcr-9, two roots, other.xml

    // into the loaded lake (the keyed-overwrite path): same rule
    val fix = tmpDir("graft_dup_fix")
    Files.writeString(fix.resolve("fixA.xml"), xml("pcr-9", "v3"))
    Files.writeString(fix.resolve("fixB.xml"), xml("pcr-9", "v4"))
    IngestPipeline.ingestDirectory(spark, s"$fix/*.xml", lake)
    assert(vitals(lake, "pcr-9") == Seq("v4"))
    assert(pcrRows(lake, "pcr-9") == 4)
    assert(vitals(lake, "pcr-3") == Seq("x"))

    // the streaming path commits the same way, and its mirror receives
    // the winner-filtered batch
    val sLanding = tmpDir("graft_dup_slanding")
    val sLake = tmpDir("graft_dup_slake").toString
    Files.writeString(sLanding.resolve("dupA.xml"), xml("pcr-9", "old"))
    Files.writeString(sLanding.resolve("dupB.xml"), xml("pcr-9", "new"))
    val url = "jdbc:derby:memory:graftdupmirror;create=true"
    val q = IngestPipeline.streamingIngest(spark, sLanding.toString, sLake,
      tmpDir("graft_dup_archive").toString, tmpDir("graft_dup_ckpt").toString,
      mirror = Some(JdbcMirror.MirrorConfig(url, dialect = JdbcMirror.DerbyDialect)))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(vitals(sLake, "pcr-9") == Seq("new"))
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT "evitals_01_value" FROM "APP"."evitals_01"""")
      val mirrored = Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toList
      rs.close()
      assert(mirrored == List("new"))
    } finally conn.close()
  }
}
