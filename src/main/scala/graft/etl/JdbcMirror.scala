package graft.etl

import java.sql.{Connection, DriverManager, PreparedStatement, SQLException, Types}
import java.util.Properties
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import scala.collection.mutable

import graft.JobPhase

/** JDBC relational mirror (SURVEY A12-A17, A19, A23): lands the tall
  * element table as one wide all-TEXT table per tag in an RDBMS, with
  * the reference's exact contracts — fixed five columns +
  * `{table}_value`, attribute columns added on sight, per-PCR keyed
  * delete before insert, FK constraints over the tree edges with
  * 63-byte-safe names, the XML path stamped as each table's COMMENT
  * (`main_ingest.py:235-240`), control tables bootstrapped
  * (`database_setup.py:66-95`), and an optional schema-version gate
  * (`main_ingest.py:53-64,729`).
  *
  * Division of labor at scale: the driver holds ONLY schema metadata
  * (per table: XML path, attribute keys, FK edges — tiny, derived by
  * one distributed aggregation) and issues DDL over a single JDBC
  * connection; all row traffic flows executor->DB in two jobs, one for
  * the container rows and one for the PCR rows partitioned by PCR, each
  * task appending through one batched `PreparedStatement` per table
  * (vs the reference's one INSERT roundtrip per element,
  * `main_ingest.py:492`). The job count does not grow with the number
  * of tag tables. The keyed pre-delete runs only on tables that existed
  * before the batch, and never inlines an unbounded key list: small key
  * sets go as chunked IN statements, large ones via an executor-written
  * staging key table.
  */
object JdbcMirror {

  /** Engine-portability seam: the reference is PostgreSQL-only; tests
    * here run against embedded Derby (no Postgres server in this
    * environment), and everything dialect-specific funnels through this
    * trait.
    */
  trait SqlDialect {
    def textType: String
    /** TEXT-ish type usable in a PK/UNIQUE (Derby can't index wide VARCHARs). */
    def keyTextType: String
    def serialType: String
    def timestampType: String
    def supportsIfNotExists: Boolean
    def supportsComments: Boolean
    /** How the engine folds UNQUOTED identifiers (the control tables are
      * created unquoted, like the reference's): PG lowercases, Derby
      * uppercases. Needed to address their columns from quoted contexts.
      */
    def foldCase(ident: String): String
  }
  object PostgresDialect extends SqlDialect {
    val textType = "TEXT"
    val keyTextType = "TEXT"
    val serialType = "SERIAL"
    val timestampType = "TIMESTAMPTZ"
    val supportsIfNotExists = true
    val supportsComments = true
    def foldCase(ident: String): String = ident.toLowerCase
  }
  object DerbyDialect extends SqlDialect {
    val textType = "VARCHAR(4000)"
    val keyTextType = "VARCHAR(255)"
    val serialType = "INTEGER GENERATED ALWAYS AS IDENTITY"
    val timestampType = "TIMESTAMP"
    val supportsIfNotExists = false
    val supportsComments = false
    def foldCase(ident: String): String = ident.toUpperCase
  }

  /** Spark's stock Derby dialect writes StringType as CLOB, which cannot
    * be inserted into the VARCHAR mirror columns — override the mapping
    * (registered once, lazily, when a Derby mirror is used).
    */
  private object DerbyVarcharDialect extends org.apache.spark.sql.jdbc.JdbcDialect {
    override def canHandle(url: String): Boolean = url.startsWith("jdbc:derby")
    override def getJDBCType(dt: org.apache.spark.sql.types.DataType): Option[org.apache.spark.sql.jdbc.JdbcType] =
      dt match {
        case org.apache.spark.sql.types.StringType =>
          Some(org.apache.spark.sql.jdbc.JdbcType("VARCHAR(4000)", java.sql.Types.VARCHAR))
        case _ => None
      }
  }
  private lazy val registerDerbyDialect: Unit =
    org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(DerbyVarcharDialect)

  final case class MirrorConfig(
      url: String,
      user: String = "",
      password: String = "",
      schema: String = "APP",
      dialect: SqlDialect = PostgresDialect,
      batchSize: Int = 1000,
      /** Keys per DELETE ... IN (...) statement. */
      deleteChunkSize: Int = 1000,
      /** Above this many distinct PCR keys the keyed delete switches to
        * the staging-table path (no driver collect of the key set).
        */
      maxInlineDeleteKeys: Int = 10000,
      /** Create SchemaVersions/XMLFilesProcessed on first use (A23). */
      createControlTables: Boolean = true,
      /** When set, refuse to mirror unless this VersionNumber exists in
        * SchemaVersions — the reference's ingest gate
        * (`main_ingest.py:53-64,729`).
        */
      requireSchemaVersion: Option[String] = None)

  /** Thrown when `requireSchemaVersion` is set but absent from the DB. */
  final class SchemaVersionMissing(version: String) extends IllegalStateException(
    s"Ingestion logic version '$version' not found in SchemaVersions; refusing to mirror " +
      "(register the version first — reference contract main_ingest.py:729)")

  private val StagingKeyTable = "graft_delete_keys"

  private def q(ident: String) = "\"" + ident + "\""

  private def connect(cfg: MirrorConfig): Connection = {
    val p = new Properties()
    if (cfg.user.nonEmpty) p.put("user", cfg.user)
    if (cfg.password.nonEmpty) p.put("password", cfg.password)
    DriverManager.getConnection(cfg.url, p)
  }

  /** Catalog-reflection cache (SURVEY A14): the reference memoizes
    * information_schema lookups per file (`main_ingest.py:144-166,690`);
    * here one batch's DDL pass reads each table's columns at most once.
    * The cache is BATCH-LOCAL (created per mirrorBatch call), so two
    * concurrent mirror batches — e.g. a streaming foreachBatch next to a
    * backfill — can never serve each other stale column sets.
    */
  private type ColumnCache = mutable.Map[String, Set[String]]

  private def tableColumns(conn: Connection, cfg: MirrorConfig, table: String,
      cache: ColumnCache): Set[String] =
    cache.getOrElseUpdate(s"${cfg.schema}.$table", {
      val rs = conn.getMetaData.getColumns(null, cfg.schema, table, null)
      val out = mutable.Set.empty[String]
      while (rs.next()) out += rs.getString("COLUMN_NAME").toLowerCase
      rs.close()
      out.toSet
    })

  private def invalidate(cfg: MirrorConfig, table: String, cache: ColumnCache): Unit =
    cache.remove(s"${cfg.schema}.$table")

  private def constraintExists(conn: Connection, cfg: MirrorConfig,
      childTable: String, name: String): Boolean = {
    // information_schema is PG; JDBC metadata keys work everywhere.
    val rs = conn.getMetaData.getImportedKeys(null, cfg.schema, childTable)
    var found = false
    while (rs.next() && !found)
      if (Option(rs.getString("FK_NAME")).exists(_.equalsIgnoreCase(name))) found = true
    rs.close()
    found
  }

  /** Kahn topo-sort, parents (FK targets) first. A self-nesting tag is
    * no cycle here: its rows are written in document order. Tables on a
    * cycle of two or more tables are appended last in name order — their
    * intra-batch FK rows may need deferred constraints on such schemas.
    */
  private[etl] def topoParentsFirst(tables: Set[String], edges: Seq[(String, String)]): Seq[String] = {
    val deps = edges.filter { case (c, p) => c != p && tables(c) && tables(p) }
    var remaining = tables
    var pending = deps
    val out = Seq.newBuilder[String]
    var progress = true
    while (remaining.nonEmpty && progress) {
      // a table is emittable when no remaining table still points at it as a child... i.e.
      // it has no un-emitted parents
      val ready = remaining.filter(t => !pending.exists(_._1 == t)) match {
        case s if s.nonEmpty => s
        case _ => Set.empty[String]
      }
      if (ready.isEmpty) progress = false
      else {
        out ++= ready.toSeq.sorted
        remaining --= ready
        pending = pending.filterNot { case (_, p) => ready(p) }
      }
    }
    out ++= remaining.toSeq.sorted // cycle remainder
    out.result()
  }

  private[etl] def exec(conn: Connection, sql: String): Unit = {
    val st = conn.createStatement()
    // some engines (Derby) reject trailing statement terminators
    try st.execute(sql.trim.stripSuffix(";")) finally st.close()
  }

  /** CREATE that tolerates the table already existing, for dialects
    * without IF NOT EXISTS (Derby X0Y32; PG 42P07 can't occur because its
    * DDL carries IF NOT EXISTS).
    */
  private def execCreateIfAbsent(conn: Connection, sql: String): Unit =
    try exec(conn, sql)
    catch { case e: SQLException if e.getSQLState == "X0Y32" => () }

  private def execDropIfExists(conn: Connection, cfg: MirrorConfig, table: String): Unit =
    try exec(conn, s"DROP TABLE ${q(cfg.schema)}.${q(table)}")
    catch { case e: SQLException if e.getSQLState == "42Y55" || e.getSQLState == "42P01" => () }

  /** A23: bootstrap control tables, idempotent. */
  def ensureControlTables(conn: Connection, cfg: MirrorConfig): Unit =
    JdbcDdl.bootstrap(cfg.schema, cfg.dialect).foreach(execCreateIfAbsent(conn, _))

  /** Mirror the ingest audit into the DB's `XMLFilesProcessed` — the
    * reference's `log_processed_file` (`main_ingest.py:67-117`), batched
    * instead of row-at-a-time, and idempotent on ProcessedFileID.
    *
    * Shape: the append-only lake audit is reduced to each file's LATEST
    * attempt (ties prefer Staged over Error — at an equal timestamp the
    * data IS in the lake), written executor->DB into a per-batch staging
    * table, then one transaction replaces the affected rows:
    * `DELETE ... WHERE id IN (SELECT id FROM staging); INSERT ... SELECT
    * FROM staging`. No audit row or id ever lands on the driver, the
    * delete+insert is atomic (a failed write can't leave previously
    * mirrored rows deleted), and a million-file backfill is the same two
    * statements. A `schema_version_id` not registered in SchemaVersions
    * logs as NULL (FK-safe) rather than failing the batch.
    */
  def mirrorAudit(auditAll: DataFrame, cfg: MirrorConfig): Unit = {
    if (cfg.dialect == DerbyDialect) registerDerbyDialect
    val fold = cfg.dialect.foldCase _
    val table = fold("XMLFilesProcessed")
    val latest = org.apache.spark.sql.expressions.Window
      .partitionBy(col("processed_file_id"))
      .orderBy(col("processing_timestamp").desc, col("status").desc)
    val audit = auditAll.where(col("processed_file_id").isNotNull)
      .withColumn("__rn", row_number().over(latest))
      .where(col("__rn") === 1).drop("__rn")

    // control tables + known version ids (one short-lived connection)
    var knownVersions = Set.empty[Int]
    val gateConn = connect(cfg)
    try {
      if (cfg.createControlTables) ensureControlTables(gateConn, cfg)
      // the audit's schema_version_id is advisory; the FK to
      // SchemaVersions only admits registered ids
      val st = gateConn.createStatement()
      try {
        val rs = st.executeQuery(
          s"SELECT SchemaVersionID FROM ${q(cfg.schema)}.SchemaVersions")
        while (rs.next()) knownVersions += rs.getInt(1)
        rs.close()
      } finally st.close()
    } finally gateConn.close()

    val props = new Properties()
    if (cfg.user.nonEmpty) props.put("user", cfg.user)
    if (cfg.password.nonEmpty) props.put("password", cfg.password)
    props.put("batchsize", cfg.batchSize.toString)
    val versionCol =
      if (knownVersions.isEmpty) lit(null).cast("int")
      else when(col("schema_version_id").isin(knownVersions.toSeq: _*),
        col("schema_version_id")).otherwise(lit(null).cast("int"))
    val staged = audit.select(
      col("processed_file_id").as(fold("ProcessedFileID")),
      col("original_file_name").as(fold("OriginalFileName")),
      col("md5_hash").as(fold("MD5Hash")),
      col("processing_timestamp").as(fold("ProcessingTimestamp")),
      col("status").as(fold("Status")),
      versionCol.as(fold("SchemaVersionID")))

    val batchTag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val staging = s"${fold("XMLFilesProcessed")}_stg_$batchTag"
    val auditCols = Seq("ProcessedFileID", "OriginalFileName", "MD5Hash",
      "ProcessingTimestamp", "Status", "SchemaVersionID").map(fold)
    try {
      val conn0 = connect(cfg)
      try exec(conn0,
        s"CREATE TABLE ${q(cfg.schema)}.${q(staging)} (" +
          s"${q(fold("ProcessedFileID"))} ${cfg.dialect.keyTextType} NOT NULL, " +
          s"${q(fold("OriginalFileName"))} ${cfg.dialect.textType}, " +
          s"${q(fold("MD5Hash"))} ${cfg.dialect.textType}, " +
          s"${q(fold("ProcessingTimestamp"))} ${cfg.dialect.timestampType}, " +
          s"${q(fold("Status"))} ${cfg.dialect.textType}, " +
          s"${q(fold("SchemaVersionID"))} INTEGER)")
      finally conn0.close()
      staged.write.mode(SaveMode.Append)
        .jdbc(cfg.url, s"${q(cfg.schema)}.${q(staging)}", props)

      val conn = connect(cfg)
      try {
        conn.setAutoCommit(false)
        try {
          exec(conn, s"DELETE FROM ${q(cfg.schema)}.${q(table)} " +
            s"WHERE ${q(fold("ProcessedFileID"))} IN " +
            s"(SELECT ${q(fold("ProcessedFileID"))} FROM ${q(cfg.schema)}.${q(staging)})")
          val colList = auditCols.map(q).mkString(", ")
          exec(conn, s"INSERT INTO ${q(cfg.schema)}.${q(table)} ($colList) " +
            s"SELECT $colList FROM ${q(cfg.schema)}.${q(staging)}")
          conn.commit()
        } catch { case e: Throwable => conn.rollback(); throw e }
      } finally conn.close()
    } finally {
      // best-effort; must not mask the in-flight exception
      try {
        val c = connect(cfg)
        try execDropIfExists(c, cfg, staging) finally c.close()
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Schema-version gate (`main_ingest.py:53-64`): VersionNumber -> id. */
  def lookupSchemaVersion(conn: Connection, cfg: MirrorConfig, version: String): Option[Int] = {
    val ps = conn.prepareStatement(JdbcDdl.schemaVersionLookup(cfg.schema))
    try {
      ps.setString(1, version)
      val rs = ps.executeQuery()
      try { if (rs.next()) Some(rs.getInt(1)) else None } finally rs.close()
    } finally ps.close()
  }

  /** Create-or-evolve one tag table: fixed columns + observed attribute
    * columns (A12/A13). Returns true when this call created the table.
    * On first create, the element's XML path is stamped as the table
    * COMMENT on dialects that support it — the reference's
    * self-documenting-schema contract (`main_ingest.py:235-240`).
    */
  def ensureTable(conn: Connection, cfg: MirrorConfig, tableRaw: String,
      attrCols: Seq[String], elementPath: Option[String] = None,
      cache: ColumnCache = mutable.Map.empty): Boolean = {
    val table = tableRaw.toLowerCase
    val wanted = TagTables.wideColumns(tableRaw, attrCols).map(_._1)
    val existing = tableColumns(conn, cfg, table, cache)
    invalidate(cfg, table, cache)
    if (existing.isEmpty) {
      val colsSql = wanted.map { c =>
        // id columns get an indexable narrow type on engines that cannot
        // index wide VARCHARs (Derby); FK column type must match the PK's
        val typ =
          if ((c == "element_id" || c == "parent_element_id") && cfg.dialect == DerbyDialect)
            "VARCHAR(64)"
          else cfg.dialect.textType
        val pk = if (c == "element_id") " NOT NULL PRIMARY KEY" else ""
        s"${q(c)} $typ$pk"
      }.mkString(", ")
      exec(conn, s"CREATE TABLE ${q(cfg.schema)}.${q(table)} ($colsSql)")
      if (cfg.dialect.supportsComments)
        elementPath.foreach(p => exec(conn, JdbcDdl.commentOnTable(cfg.schema, table, p)))
      true
    } else {
      wanted.filterNot(existing.contains).foreach { c =>
        exec(conn, s"ALTER TABLE ${q(cfg.schema)}.${q(table)} ADD COLUMN ${q(c)} ${cfg.dialect.textType}")
      }
      false
    }
  }

  /** Mirror one ingest batch. Returns the set of mirrored table names.
    *
    * The number of Spark jobs is fixed, whatever the number of tag
    * tables: one aggregation plans the DDL (`mirror: plan`, plus the
    * keyed-delete probes when a table of the batch already exists), one
    * job writes the container rows (`mirror: containers`) and one the
    * PCR rows (`mirror: rows`).
    */
  def mirrorBatch(tall: DataFrame, cfg: MirrorConfig): Set[String] = {
    if (cfg.dialect == DerbyDialect) registerDerbyDialect
    val sc = tall.sparkSession.sparkContext
    val cache: ColumnCache = mutable.Map.empty // batch-local (A14)
    val info = JobPhase(sc, "mirror: plan")(TagTables.tableInfo(tall))
    val tables = info.keySet

    // Bootstrap + schema-version gate run FIRST, before any staging
    // work: a gate refusal must cost one SELECT, not a multi-million-key
    // executor->DB write plus leaked staging tables. The same connection
    // finds which of the batch's tables already exist: only those can
    // hold rows the keyed delete has to evict.
    val gateConn = connect(cfg)
    val preexisting = try {
      if (cfg.createControlTables) ensureControlTables(gateConn, cfg)
      cfg.requireSchemaVersion.foreach { v =>
        if (lookupSchemaVersion(gateConn, cfg, v).isEmpty) throw new SchemaVersionMissing(v)
      }
      val found = tables.filter(t => tableColumns(gateConn, cfg, t, cache).nonEmpty)
      // the DDL pass re-reads the catalog, after the probe jobs below: a
      // table or column a concurrent batch adds meanwhile must not meet
      // a stale column set
      cache.clear()
      found
    } finally gateConn.close()

    // Keyed delete planning: collect at most maxInline+1 keys — if the
    // batch exceeds the inline budget, the key SET never lands on the
    // driver; it is written executor->DB into a staging table instead.
    val distinctKeys = tall.select("pcr_uuid_context")
      .where(col("pcr_uuid_context").isNotNull).distinct()
    // Container elements (document root/header) carry no PCR context, so
    // the keyed delete misses them; with deterministic ids a same-file
    // replay would then violate the element_id PK. Evict them by id —
    // a couple of rows per document, and their ON DELETE CASCADE also
    // clears any stale descendants. (The reference replays with fresh
    // uuid4 ids and silently accumulates these rows instead.) Same
    // inline-budget rule as the PCR keys: a backfill of millions of
    // files routes (table, id) pairs through a staging table instead of
    // the driver.
    val containers = tall.where(col("pcr_uuid_context").isNull)
      .select(lower(col("table_name")).as("t"), col("element_id").as("k"))
    val (inlineProbe, containerProbe) =
      if (preexisting.isEmpty) (Seq.empty[String], Array.empty[Row])
      else JobPhase(sc, "mirror: plan") {
        (distinctKeys.limit(cfg.maxInlineDeleteKeys + 1).collect().map(_.getString(0)).toSeq,
          containers.limit(cfg.maxInlineDeleteKeys + 1).collect())
      }
    val useStaging = inlineProbe.size > cfg.maxInlineDeleteKeys
    val useContainerStaging = containerProbe.length > cfg.maxInlineDeleteKeys
    val containerIds: Map[String, Seq[String]] =
      if (useContainerStaging) Map.empty
      else containerProbe.groupBy(_.getString(0))
        .map { case (t, rows) => t -> rows.map(_.getString(1)).toSeq }

    val props = new Properties()
    if (cfg.user.nonEmpty) props.put("user", cfg.user)
    if (cfg.password.nonEmpty) props.put("password", cfg.password)
    props.put("batchsize", cfg.batchSize.toString)

    // Staging tables get a per-batch unique suffix: two concurrent
    // mirror batches against the same database (streaming foreachBatch
    // next to a backfill) must never read each other's key sets — a
    // shared staging name would mix their deletes and destroy the other
    // batch's freshly written rows.
    val batchTag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val keyStaging = s"${StagingKeyTable}_$batchTag"
    val containerStaging = s"${StagingKeyTable}_c_$batchTag"
    val kType = if (cfg.dialect == DerbyDialect) "VARCHAR(64)" else cfg.dialect.keyTextType

    val created = try {
      if (useStaging) JobPhase(sc, "mirror: plan") {
        val conn0 = connect(cfg)
        try exec(conn0, s"CREATE TABLE ${q(cfg.schema)}.${q(keyStaging)} (${q("k")} $kType NOT NULL)")
        finally conn0.close()
        distinctKeys.toDF("k").write.mode(SaveMode.Append)
          .jdbc(cfg.url, s"${q(cfg.schema)}.${q(keyStaging)}", props)
      }
      if (useContainerStaging) JobPhase(sc, "mirror: plan") {
        val conn0 = connect(cfg)
        try exec(conn0, s"CREATE TABLE ${q(cfg.schema)}.${q(containerStaging)} " +
          s"(${q("t")} $kType NOT NULL, ${q("k")} $kType NOT NULL)")
        finally conn0.close()
        containers.write.mode(SaveMode.Append)
          .jdbc(cfg.url, s"${q(cfg.schema)}.${q(containerStaging)}", props)
      }

      val conn = connect(cfg)
      try {
        conn.setAutoCommit(false)
        try {
          val out = tables.filter { t =>
            val isNew = ensureTable(conn, cfg, t, info(t).attributes, Some(info(t).elementPath), cache)
            // A15 keyed pre-delete: chunked IN statements (bounded size),
            // or one set-oriented DELETE against the staging key table. A
            // table this transaction created is empty and invisible to
            // others until commit: nothing to evict.
            if (!isNew) {
              if (useStaging)
                exec(conn, JdbcDdl.deleteViaStaging(cfg.schema, t, keyStaging))
              else if (inlineProbe.nonEmpty)
                JdbcDdl.deleteByKeys(cfg.schema, t, inlineProbe, cfg.deleteChunkSize)
                  .foreach(exec(conn, _))
              if (useContainerStaging)
                exec(conn, s"DELETE FROM ${q(cfg.schema)}.${q(t)} WHERE ${q("element_id")} IN " +
                  s"(SELECT ${q("k")} FROM ${q(cfg.schema)}.${q(containerStaging)} " +
                  s"WHERE ${q("t")} = '${t.replace("'", "''")}')")
              containerIds.get(t).filter(_.nonEmpty).foreach { ids =>
                JdbcDdl.deleteByKeys(cfg.schema, t, ids, cfg.deleteChunkSize,
                  keyCol = "element_id").foreach(exec(conn, _))
              }
            }
            isNew
          }
          conn.commit()
          out
        } catch { case e: Throwable => conn.rollback(); throw e }
      } finally conn.close()
    } finally {
      // best-effort cleanup on success AND on any failure after staging
      // creation (including a failed bulk write) — a leftover
      // uniquely-named staging table is inert but untidy. GENUINELY
      // best-effort: if the DB is down (likely the very reason we're
      // unwinding), the cleanup's own failure must not mask the real
      // exception.
      if (useStaging || useContainerStaging) {
        try {
          val c = connect(cfg)
          try {
            if (useStaging) execDropIfExists(c, cfg, keyStaging)
            if (useContainerStaging) execDropIfExists(c, cfg, containerStaging)
          } finally c.close()
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    }

    // Row traffic: executors -> DB. Container rows first (their parents
    // are containers of the same file), then PCR rows, all of one PCR in
    // one task. Within a task rows go parents' tables first
    // (topological order over the FK edges), then in document order, so
    // FKs left by earlier batches hold during insert, self-nesting tags
    // included; the reference gets this implicitly from row-at-a-time
    // preorder inserts.
    val edges = info.values.flatMap(_.fkEdges).toSeq
    if (tables.nonEmpty) {
      val rank = topoParentsFirst(tables, edges.map {
        case (c, p) => (c.toLowerCase, p.toLowerCase)
      }).zipWithIndex.toMap
      val columns = tables.map(t => t -> TagTables.wideColumns(t, info(t).attributes)).toMap
      val pcr = col("pcr_uuid_context")
      JobPhase(sc, "mirror: containers")(
        appendRows(tall.where(pcr.isNull), col("source_file"), rank, columns, cfg))
      JobPhase(sc, "mirror: rows")(appendRows(tall.where(pcr.isNotNull), pcr, rank, columns, cfg))
    }

    // A18/A19: FK edges with truncation-safe names, created once. Names
    // are deduplicated case-blind: the `EVitals_06`/`eVitals_06`
    // spellings share one table, which gets one FK per parent, not two
    // that differ in case. A table created by this batch holds no
    // constraint yet, so it needs no probe.
    val conn2 = connect(cfg)
    try {
      conn2.setAutoCommit(false)
      try {
        edges.distinctBy { case (c, p) => FkNames.fkConstraintName(c, p).toLowerCase }
          .foreach { case (childRaw, parentRaw) =>
            val child = childRaw.toLowerCase
            val name = FkNames.fkConstraintName(childRaw, parentRaw)
            if (created(child) || !constraintExists(conn2, cfg, child, name))
              exec(conn2, JdbcDdl.addForeignKey(cfg.schema, childRaw, parentRaw))
          }
        conn2.commit()
      } catch { case e: Throwable => conn2.rollback(); throw e }
    } finally conn2.close()
    tables
  }

  /** One Spark job appending `rows` to their tag tables: rows are
    * partitioned by `key`, and each task sorts its rows by (table rank,
    * source file, preorder) and appends them through one batched
    * `PreparedStatement` per table and one transaction per task.
    */
  private def appendRows(rows: DataFrame, key: Column, rank: Map[String, Int],
      columns: Map[String, Seq[(String, Either[String, String])]], cfg: MirrorConfig): Unit = {
    // plain values only: the closure is shipped to executors
    val (url, user, password, schema, batchSize) =
      (cfg.url, cfg.user, cfg.password, cfg.schema, cfg.batchSize)
    val table = lower(col("table_name"))
    val sources = columns.values.flatten.collect { case (_, Left(c)) => c }.toSeq.distinct
    rows.repartition(key)
      .sortWithinPartitions(element_at(typedLit(rank), table), col("source_file"), col("preorder"))
      .select(table.as("__table") +: col("attributes").as("__attributes") +: sources.map(col): _*)
      .foreachPartition { (it: Iterator[Row]) =>
        if (it.hasNext) {
          val p = new Properties()
          if (user.nonEmpty) p.put("user", user)
          if (password.nonEmpty) p.put("password", password)
          val conn = DriverManager.getConnection(url, p)
          try {
            conn.setAutoCommit(false)
            var current: String = null
            var cols: Seq[(String, Either[String, String])] = Nil
            var ps: PreparedStatement = null
            var pending = 0
            def flush(): Unit = if (pending > 0) { ps.executeBatch(); pending = 0 }
            try {
              it.foreach { r =>
                val t = r.getString(0)
                if (t != current) {
                  flush()
                  if (ps != null) ps.close()
                  current = t
                  cols = columns(t)
                  ps = conn.prepareStatement(
                    s"INSERT INTO ${q(schema)}.${q(t)} (${cols.map(c => q(c._1)).mkString(", ")}) " +
                      s"VALUES (${cols.map(_ => "?").mkString(", ")})")
                }
                val attrs = r.getMap[String, String](1).map { case (k, v) => k.toLowerCase -> v }
                cols.iterator.zipWithIndex.foreach { case ((_, source), i) =>
                  val v = source.fold(r.getAs[String](_), attrs.getOrElse(_, null))
                  if (v == null) ps.setNull(i + 1, Types.VARCHAR) else ps.setString(i + 1, v)
                }
                ps.addBatch()
                pending += 1
                if (pending >= batchSize) flush()
              }
              flush()
            } finally if (ps != null) ps.close()
            conn.commit()
          } catch { case e: Throwable => conn.rollback(); throw e }
          finally conn.close()
        }
      }
  }

  /** Land vendor sidecar tables in the RDBMS (A26-A29's DB half): per
    * sheet, CREATE TABLE IF ABSENT with every column TEXT — column names
    * quoted VERBATIM, spaces included, matching the reference's
    * `"Sort Order" TEXT` DDL (`vendor_import.py:227-232`) — then one
    * batched executor->DB append replacing the reference's
    * row-at-a-time INSERT loop (`vendor_import.py:233-241`). Append-only
    * like the reference: re-importing the same workbook accumulates
    * rows there and here alike.
    */
  def mirrorSidecar(tables: Map[String, DataFrame], cfg: MirrorConfig): Unit = {
    if (cfg.dialect == DerbyDialect) registerDerbyDialect
    val props = new Properties()
    if (cfg.user.nonEmpty) props.put("user", cfg.user)
    if (cfg.password.nonEmpty) props.put("password", cfg.password)
    props.put("batchsize", cfg.batchSize.toString)
    tables.foreach { case (tableRaw, df) =>
      val table = tableRaw.toLowerCase
      val ifNotExists = if (cfg.dialect.supportsIfNotExists) "IF NOT EXISTS " else ""
      val colsSql = df.columns
        .map(c => s"${q(c)} ${cfg.dialect.textType}").mkString(", ")
      val conn = connect(cfg)
      try execCreateIfAbsent(conn,
        s"CREATE TABLE $ifNotExists${q(cfg.schema)}.${q(table)} ($colsSql)")
      finally conn.close()
      df.write.mode(SaveMode.Append)
        .jdbc(cfg.url, s"${q(cfg.schema)}.${q(table)}", props)
    }
  }

  /** Full-refresh one mirror table (A25's DB half): the reference's
    * `DELETE FROM t; INSERT ...` loop over a fresh download
    * (`create_definitions.py:54-63,111-120`) as a STAGED ATOMIC
    * replace — rows flow executor->DB into a per-call staging table,
    * then one transaction empties the target and re-fills it from
    * staging, so readers never observe a half-refreshed dictionary and
    * a failed download can never destroy the previous good rows.
    *
    * Identifiers are UNQUOTED in the target (folding per engine), as in
    * the reference's DDL — so table/column names must be plain
    * identifiers (the dictionary schemas are).
    */
  def fullRefreshTable(df: DataFrame, tableRaw: String, cfg: MirrorConfig): Unit = {
    if (cfg.dialect == DerbyDialect) registerDerbyDialect
    val fold = cfg.dialect.foldCase _
    val plain = "[A-Za-z][A-Za-z0-9_]*"
    require(tableRaw.matches(plain) && df.columns.forall(_.matches(plain)),
      s"fullRefreshTable uses unquoted identifiers; non-plain name in: " +
        s"$tableRaw(${df.columns.mkString(", ")})")
    val props = new Properties()
    if (cfg.user.nonEmpty) props.put("user", cfg.user)
    if (cfg.password.nonEmpty) props.put("password", cfg.password)
    props.put("batchsize", cfg.batchSize.toString)
    val ifNotExists = if (cfg.dialect.supportsIfNotExists) "IF NOT EXISTS " else ""
    val conn0 = connect(cfg)
    try execCreateIfAbsent(conn0,
      s"CREATE TABLE $ifNotExists${q(cfg.schema)}.$tableRaw " +
        s"(${df.columns.map(c => s"$c ${cfg.dialect.textType}").mkString(", ")})")
    finally conn0.close()

    val batchTag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val staging = s"${fold(tableRaw)}_stg_$batchTag"
    val foldedCols = df.columns.map(fold)
    try {
      val conn1 = connect(cfg)
      try exec(conn1, s"CREATE TABLE ${q(cfg.schema)}.${q(staging)} " +
        s"(${foldedCols.map(c => s"${q(c)} ${cfg.dialect.textType}").mkString(", ")})")
      finally conn1.close()
      df.toDF(foldedCols.toSeq: _*).write.mode(SaveMode.Append)
        .jdbc(cfg.url, s"${q(cfg.schema)}.${q(staging)}", props)
      val conn = connect(cfg)
      try {
        conn.setAutoCommit(false)
        try {
          val colList = foldedCols.map(q).mkString(", ")
          exec(conn, s"DELETE FROM ${q(cfg.schema)}.$tableRaw")
          exec(conn, s"INSERT INTO ${q(cfg.schema)}.$tableRaw ($colList) " +
            s"SELECT $colList FROM ${q(cfg.schema)}.${q(staging)}")
          conn.commit()
        } catch { case e: Throwable => conn.rollback(); throw e }
      } finally conn.close()
    } finally {
      // best-effort; must not mask the in-flight exception
      try {
        val c = connect(cfg)
        try execDropIfExists(c, cfg, staging) finally c.close()
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}
