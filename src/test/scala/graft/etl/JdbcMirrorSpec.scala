package graft.etl

import java.sql.DriverManager
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Integration test of the JDBC mirror (A12-A17, A19) against embedded
  * Derby — a real database: DDL synthesis, schema evolution on a second
  * batch, per-PCR keyed delete, batched appends, FK creation (once).
  */
class JdbcMirrorSpec extends AnyFunSuite with SparkSpec {

  private val url = "jdbc:derby:memory:graftmirror;create=true"
  private val cfg = JdbcMirror.MirrorConfig(url, dialect = JdbcMirror.DerbyDialect)

  private def xml(pcr: String, vital: String, extraAttr: String = ""): String =
    s"""<EMSDataSet xmlns="http://www.nemsis.org">
       |<PatientCareReport UUID="$pcr">
       |<eVitals.06 CodeType="ct"$extraAttr>$vital</eVitals.06>
       |</PatientCareReport>
       |</EMSDataSet>""".stripMargin

  private def tallOf(docs: (String, String)*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    docs.toSeq.toDF("name", "content").as[(String, String)]
      .flatMap { case (n, c) =>
        XmlFlatten.parse(c.getBytes("UTF-8"), n, "md5", XmlFlatten.DeterministicId)
      }.toDF()
  }

  private def queryCount(sql: String): Int = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      rs.next(); rs.getInt(1)
    } finally conn.close()
  }

  test("mirror batch: create, append, keyed overwrite, evolve, FK") {
    val t1 = tallOf("f1.xml" -> xml("pcr-1", "120"), "f2.xml" -> xml("pcr-2", "130"))
    val tables = JdbcMirror.mirrorBatch(t1, cfg)
    assert(tables == Set("emsdataset", "patientcarereport", "evitals_06"))

    assert(queryCount("""SELECT count(*) FROM "APP"."evitals_06"""") == 2)
    assert(queryCount("""SELECT count(*) FROM "APP"."evitals_06" WHERE "codetype" = 'ct'""") == 2)

    // second batch: same PCR re-ingested with a NEW attribute -> keyed
    // delete + ALTER TABLE ADD COLUMN, and the FK is not re-added
    val t2 = tallOf("f1b.xml" -> xml("pcr-1", "125", """ Units="mmHg""""))
    JdbcMirror.mirrorBatch(t2, cfg)

    assert(queryCount("""SELECT count(*) FROM "APP"."evitals_06"""") == 2) // pcr-1 replaced
    assert(queryCount(
      """SELECT count(*) FROM "APP"."evitals_06" WHERE "evitals_06_value" = '125'""") == 1)
    assert(queryCount(
      """SELECT count(*) FROM "APP"."evitals_06" WHERE "units" = 'mmHg'""") == 1)

    // same-batch replay is fully idempotent (container rows evicted by
    // id, PCR rows by key) — counts unchanged
    JdbcMirror.mirrorBatch(t2, cfg)
    assert(queryCount("""SELECT count(*) FROM "APP"."evitals_06"""") == 2)
    assert(queryCount("""SELECT count(*) FROM "APP"."emsdataset"""") == 3)

    // FK enforced: orphan child insert must fail
    val conn = DriverManager.getConnection(url)
    try {
      val e = intercept[java.sql.SQLException] {
        conn.createStatement().execute(
          """INSERT INTO "APP"."evitals_06" ("element_id", "parent_element_id") VALUES ('x', 'no-such-parent')""")
      }
      assert(e.getSQLState.startsWith("23")) // integrity constraint violation
    } finally conn.close()
  }

  test("control tables bootstrapped on Derby; schema-version gate enforced") {
    // first mirrorBatch above already ran with createControlTables=true
    JdbcMirror.mirrorBatch(tallOf("g1.xml" -> xml("pcr-g1", "99")), cfg)
    assert(queryCount("""SELECT count(*) FROM "APP".SchemaVersions""") == 0)
    assert(queryCount("""SELECT count(*) FROM "APP".XMLFilesProcessed""") == 0)

    // gate refuses when the configured version is absent...
    val gated = cfg.copy(requireSchemaVersion = Some("3.5.0"))
    intercept[JdbcMirror.SchemaVersionMissing] {
      JdbcMirror.mirrorBatch(tallOf("g2.xml" -> xml("pcr-g2", "98")), gated)
    }
    assert(queryCount(
      """SELECT count(*) FROM "APP"."evitals_06" WHERE "pcr_uuid_context" = 'pcr-g2'""") == 0)

    // ...and admits once it is registered (main_ingest.py:53-64,729)
    val conn = DriverManager.getConnection(url)
    try conn.createStatement().execute(
      """INSERT INTO "APP".SchemaVersions (VersionNumber, CreationDate)
        |VALUES ('3.5.0', CURRENT_TIMESTAMP)""".stripMargin)
    finally conn.close()
    JdbcMirror.mirrorBatch(tallOf("g2.xml" -> xml("pcr-g2", "98")), gated)
    assert(queryCount(
      """SELECT count(*) FROM "APP"."evitals_06" WHERE "pcr_uuid_context" = 'pcr-g2'""") == 1)
  }

  test("keyed delete: 10k keys run as bounded chunks, never one mega-statement") {
    val keys = (1 to 10000).map(i => s"pcr-bulk-$i")
    val stmts = JdbcDdl.deleteByKeys("APP", "evitals_06", keys, chunkSize = 1000)
    assert(stmts.size == 10)
    assert(stmts.forall(_.length < 200000)) // ~16 bytes/key * 1000, not 10k
    // Derby executes every chunk (table exists from the first test)
    val conn = DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      stmts.foreach { s =>
        val st = conn.createStatement()
        try st.execute(s.stripSuffix(";")) finally st.close()
      }
      conn.commit()
    } finally conn.close()
    // rows with non-matching keys survive
    assert(queryCount("""SELECT count(*) FROM "APP"."evitals_06"""") >= 2)
  }

  test("keyed delete switches to staging-table path above the inline budget") {
    val small = cfg.copy(maxInlineDeleteKeys = 50)
    val docs = (1 to 120).map(i => s"s$i.xml" -> xml(f"pcr-st-$i%03d", i.toString))
    JdbcMirror.mirrorBatch(tallOf(docs: _*), small)
    assert(queryCount(
      """SELECT count(*) FROM "APP"."evitals_06" WHERE "pcr_uuid_context" LIKE 'pcr-st-%'""") == 120)
    // replay with changed values: staging delete evicts all 120 first
    val docs2 = (1 to 120).map(i => s"s$i.xml" -> xml(f"pcr-st-$i%03d", (i + 1000).toString))
    JdbcMirror.mirrorBatch(tallOf(docs2: _*), small)
    assert(queryCount(
      """SELECT count(*) FROM "APP"."evitals_06" WHERE "pcr_uuid_context" LIKE 'pcr-st-%'""") == 120)
    assert(queryCount(
      """SELECT count(*) FROM "APP"."evitals_06" WHERE "evitals_06_value" = '1001'""") == 1)
    // staging tables (per-batch unique names) are dropped after the batch
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, "APP", "graft_delete_keys%", null)
      assert(!rs.next())
      rs.close()
    } finally conn.close()
  }

  test("container eviction routes through staging above the inline budget") {
    // 3 docs, 1 container row each; budget 2 forces BOTH the pcr keys
    // and the (table, id) container pairs through their staging paths;
    // replay stays idempotent
    val tiny = cfg.copy(maxInlineDeleteKeys = 2)
    val docs = (1 to 3).map(i => s"c$i.xml" -> xml(s"pcr-cs-$i", i.toString))
    JdbcMirror.mirrorBatch(tallOf(docs: _*), tiny)
    val before = queryCount("""SELECT count(*) FROM "APP"."emsdataset"""")
    JdbcMirror.mirrorBatch(tallOf(docs: _*), tiny)
    assert(queryCount("""SELECT count(*) FROM "APP"."emsdataset"""") == before)
    assert(queryCount(
      """SELECT count(*) FROM "APP"."evitals_06" WHERE "pcr_uuid_context" LIKE 'pcr-cs-%'""") == 3)
  }

  test("audit rows mirror into XMLFilesProcessed, idempotent on file id") {
    import java.sql.Timestamp
    val rows1 = Audit.rows(spark, Seq(
      Audit.AuditRow("pf-1", "a.xml", "m1", new Timestamp(1000L), Audit.Status.Staged, None),
      Audit.AuditRow("pf-2", "b.xml", "m2", new Timestamp(2000L), Audit.Status.ErrorMd5, Some(1))))
    JdbcMirror.mirrorAudit(rows1, cfg)
    assert(queryCount("""SELECT count(*) FROM "APP".XMLFilesProcessed""") == 2)

    // replay of pf-2 with a new status replaces, never PK-violates —
    // including when the APPEND-ONLY lake audit carries BOTH attempts in
    // one frame at the SAME timestamp (tie prefers Staged: the data IS
    // in the lake)
    val rows2 = Audit.rows(spark, Seq(
      Audit.AuditRow("pf-2", "b.xml", "m2", new Timestamp(3000L), Audit.Status.ErrorMd5, Some(1)),
      Audit.AuditRow("pf-2", "b.xml", "m2", new Timestamp(3000L), Audit.Status.Staged, Some(1))))
    JdbcMirror.mirrorAudit(rows2, cfg)
    assert(queryCount("""SELECT count(*) FROM "APP".XMLFilesProcessed""") == 2)
    assert(queryCount(
      s"""SELECT count(*) FROM "APP".XMLFilesProcessed WHERE Status = '${Audit.Status.Staged}'""") == 2)

    // a schema_version_id not registered in SchemaVersions logs as NULL
    // (FK-safe) rather than failing the batch
    JdbcMirror.mirrorAudit(Audit.rows(spark, Seq(
      Audit.AuditRow("pf-3", "c.xml", "m3", new Timestamp(4000L), Audit.Status.Staged, Some(999)))), cfg)
    assert(queryCount(
      """SELECT count(*) FROM "APP".XMLFilesProcessed
        |WHERE ProcessedFileID = 'pf-3' AND SchemaVersionID IS NULL""".stripMargin) == 1)
  }

  private def freshCfg(db: String) =
    JdbcMirror.MirrorConfig(s"jdbc:derby:memory:$db;create=true", dialect = JdbcMirror.DerbyDialect)

  private def queryAll(cfg: JdbcMirror.MirrorConfig, sql: String): Seq[String] = {
    val conn = DriverManager.getConnection(cfg.url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      val out = Seq.newBuilder[String]
      while (rs.next()) out += rs.getString(1)
      out.result()
    } finally conn.close()
  }

  private def fkNames(cfg: JdbcMirror.MirrorConfig, table: String): Seq[String] =
    queryAll(cfg, "SELECT c.CONSTRAINTNAME FROM SYS.SYSCONSTRAINTS c " +
      s"JOIN SYS.SYSTABLES t ON c.TABLEID = t.TABLEID WHERE c.TYPE = 'F' AND t.TABLENAME = '$table'")

  test("tag spellings differing in case: one table, one FK, attribute columns of both") {
    val fresh = freshCfg("graftmirrorcase")
    val doc =
      """<EMSDataSet><PatientCareReport UUID="pcr-case">
        |<eVitals.06 CodeType="ct">120</eVitals.06>
        |<EVitals.06 Units="mmHg">130</EVitals.06>
        |</PatientCareReport></EMSDataSet>""".stripMargin
    assert(JdbcMirror.mirrorBatch(tallOf("case.xml" -> doc), fresh) ==
      Set("emsdataset", "patientcarereport", "evitals_06"))
    assert(fkNames(fresh, "evitals_06").size == 1)
    val cols = queryAll(fresh, "SELECT c.COLUMNNAME FROM SYS.SYSCOLUMNS c " +
      "JOIN SYS.SYSTABLES t ON c.REFERENCEID = t.TABLEID WHERE t.TABLENAME = 'evitals_06'").toSet
    assert(Set("codetype", "units").subsetOf(cols), cols)
    assert(queryAll(fresh, """SELECT "units" FROM "APP"."evitals_06" WHERE "evitals_06_value" = '130'""") ==
      Seq("mmHg"))
    // the wide views see the same merged attribute set
    val view = TagTables.wideViews(tallOf("case.xml" -> doc))("evitals_06")
    assert(Set("codetype", "units").subsetOf(view.columns.toSet))
  }

  test("self-nesting tag: a second batch lands while the self-FK is in place") {
    // the nesting tag is the document root, so its only parent table is
    // itself (a tag under two parent tables gets two FKs on one column)
    val fresh = freshCfg("graftmirrorself")
    def nested(i: Int, v: String): String =
      s"""<eOther.Group><eOther.01>$v-1</eOther.01>
         |<eOther.Group><eOther.01>$v-2</eOther.01>
         |<eOther.Group><eOther.01>$v-3</eOther.01>
         |<PatientCareReport UUID="pcr-n$i"><eVitals.06>$v</eVitals.06></PatientCareReport>
         |</eOther.Group></eOther.Group></eOther.Group>""".stripMargin
    JdbcMirror.mirrorBatch(tallOf((1 to 4).map(i => s"n$i.xml" -> nested(i, "a")): _*), fresh)
    assert(fkNames(fresh, "eother_group").map(_.toLowerCase) == Seq("fk_eother_group_eother_group"))
    // replay of two files with new values plus two new files; rows reach
    // the mirror children first, so only the mirror's own ordering keeps
    // each parent ahead of its children, in container and PCR rows alike
    val second = tallOf(Seq(1, 2, 5, 6).map(i => s"n$i.xml" -> nested(i, "b")): _*)
      .orderBy(col("preorder").desc)
    JdbcMirror.mirrorBatch(second, fresh)
    assert(queryAll(fresh, """SELECT count(*) FROM "APP"."eother_group"""") == Seq("18"))
    assert(queryAll(fresh,
      """SELECT count(*) FROM "APP"."eother_01" WHERE "eother_01_value" LIKE 'b-%'""") == Seq("12"))
    assert(queryAll(fresh,
      """SELECT "evitals_06_value" FROM "APP"."evitals_06" ORDER BY 1""") == Seq("a", "a", "b", "b", "b", "b"))
  }

  test("mirrorBatch runs as many Spark jobs for 12 tags as for 3") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val group = "jdbc-mirror-job-count"
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    def jobsOf(tall: org.apache.spark.sql.DataFrame, db: String): Int = {
      org.apache.spark.GraftListenerBusBridge.drain(sc)
      jobs.set(0)
      sc.setJobGroup(group, "mirror job count")
      try JdbcMirror.mirrorBatch(tall, freshCfg(db)) finally sc.clearJobGroup()
      org.apache.spark.GraftListenerBusBridge.drain(sc)
      jobs.get()
    }
    def wide(pcr: String): String =
      s"""<EMSDataSet><PatientCareReport UUID="$pcr">""" +
        (1 to 10).map(i => f"<eWide.$i%02d>v$i</eWide.$i%02d>").mkString +
        "</PatientCareReport></EMSDataSet>"
    sc.addSparkListener(listener)
    try {
      val three = tallOf("j1.xml" -> xml("pcr-j1", "1"), "j2.xml" -> xml("pcr-j2", "2"))
      val twelve = tallOf("w1.xml" -> wide("pcr-w1"), "w2.xml" -> wide("pcr-w2"))
      val n3 = jobsOf(three, "graftjobs3")
      val n12 = jobsOf(twelve, "graftjobs12")
      assert(n3 > 0)
      assert(n3 == n12, s"3 tags: $n3 jobs, 12 tags: $n12 jobs")
    } finally sc.removeSparkListener(listener)
  }

  test("postgres-dialect DDL: bootstrap + comment stamped on first create") {
    val boot = JdbcDdl.bootstrap("public", JdbcMirror.PostgresDialect)
    assert(boot.exists(_.contains("CREATE TABLE IF NOT EXISTS \"public\".SchemaVersions")))
    assert(boot.exists(_.contains("SchemaVersionID SERIAL PRIMARY KEY")))
    assert(boot.exists(_.contains("ProcessingTimestamp TIMESTAMPTZ NOT NULL")))
    val derbyBoot = JdbcDdl.bootstrap("APP", JdbcMirror.DerbyDialect)
    assert(derbyBoot.forall(!_.contains("IF NOT EXISTS")))
    assert(derbyBoot.exists(_.contains("GENERATED ALWAYS AS IDENTITY")))
    assert(JdbcDdl.schemaVersionLookup("public") ==
      "SELECT SchemaVersionID FROM \"public\".SchemaVersions WHERE VersionNumber = ?")
  }
}
