package perfbench

import java.nio.file.{Files, Path}
import java.sql.{Connection, DriverManager, SQLException}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.etl.{Audit, FkNames, JdbcMirror}

/** File-system listings, Derby access and the model checks shared by the
  * two NEMSIS workloads.
  */
object EtlSupport {

  /** (path -> (size, mtime)) of every regular file under `dir`. */
  def listing(dir: Path): Map[String, (Long, Long)] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally s.close()
    }

  /** Files and bytes in `after` that are new or changed against `before`. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): (Long, Long) = {
    val w = after.filter { case (p, v) => !before.get(p).contains(v) }
    (w.size.toLong, w.values.map(_._1).sum)
  }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  def mirrorConfig(dbDir: Path): JdbcMirror.MirrorConfig =
    JdbcMirror.MirrorConfig(s"jdbc:derby:$dbDir;create=true", dialect = JdbcMirror.DerbyDialect)

  /** Creates the embedded database (untimed: a user's mirror already exists). */
  def createDb(dbDir: Path): Unit = DriverManager.getConnection(s"jdbc:derby:$dbDir;create=true").close()

  def shutdownDb(dbDir: Path): Unit =
    try DriverManager.getConnection(s"jdbc:derby:$dbDir;shutdown=true").close()
    catch { case _: SQLException => () } // Derby reports a clean shutdown as 08006

  def withConn[A](dbDir: Path)(f: Connection => A): A = {
    val c = DriverManager.getConnection(s"jdbc:derby:$dbDir")
    try f(c) finally c.close()
  }

  def query(c: Connection, sql: String): Seq[Seq[String]] = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = mutable.ArrayBuffer.empty[Seq[String]]
      while (rs.next()) out += (1 to n).map(rs.getString)
      out.toSeq
    } finally st.close()
  }

  /** Files the scans of an executed query opened. */
  def filesRead(df: DataFrame): Long = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).flatMap(_.metrics.get("numFiles")).map(_.value).sum
  }

  private def diff(what: String, got: Map[String, Any], want: Map[String, Any]): Seq[String] =
    (got.keySet ++ want.keySet).toSeq.sorted.filter(k => got.get(k) != want.get(k)).take(5)
      .map(k => s"$what[$k]: got ${got.get(k)}, want ${want.get(k)}")

  /** Lake checks of a bulk load against the model: elements and numeric
    * sums per tag, the PCR count, the FK edge set, unique element ids,
    * resolvable parent ids, and one audit row per file with its status.
    * Returns the problems and the lake's element count per tag.
    */
  def checkLake(elements: DataFrame, fkEdges: DataFrame, audit: DataFrame,
      m: XmlModel): (Seq[String], Map[String, Long]) = {
    val perTag = elements.groupBy("table_name")
      .agg(count(lit(1)),
        sum(when(col("table_name").isin(m.numericSums.keys.toSeq: _*), col("text_value").cast("long"))))
      .collect().map(r => r.getString(0) -> (r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))).toMap
    val counts = perTag.map { case (t, (n, _)) => t -> n }
    val sums = perTag.collect { case (t, (_, s)) if m.numericSums.contains(t) => t -> s }
    val totals = elements.agg(count(lit(1)), countDistinct(col("element_id")),
      countDistinct(col("pcr_uuid_context"))).head()
    val orphans = elements.where(col("parent_element_id").isNotNull)
      .join(elements.select(col("element_id").as("parent_element_id")), Seq("parent_element_id"), "left_anti")
      .count()
    val edges = fkEdges.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val statuses = audit.select("original_file_name", "status").collect()
      .map(r => r.getString(0).split('/').last -> r.getString(1)).toSeq
    val problems = diff("elements per tag", counts, m.elementsPerTag.toMap) ++
      (if (totals.getLong(2) != m.pcrVersion.size) Seq(s"PCRs: got ${totals.getLong(2)}, want ${m.pcrVersion.size}") else Nil) ++
      (if (edges != m.edges.toSet) Seq(s"fk_edges differ: extra ${edges -- m.edges}, missing ${m.edges.toSet -- edges}") else Nil) ++
      (if (totals.getLong(0) != totals.getLong(1)) Seq(s"element_id not unique: ${totals.getLong(0)} rows, ${totals.getLong(1)} ids") else Nil) ++
      (if (orphans != 0) Seq(s"$orphans elements have an unresolved parent id") else Nil) ++
      diff("numeric sum", sums, m.numericSums.toMap) ++
      (if (statuses.size != m.fileElements.size) Seq(s"audit rows: got ${statuses.size}, want ${m.fileElements.size}") else Nil) ++
      diff("audit status", statuses.toMap, wantStatus(m))
    (problems, counts)
  }

  private def wantStatus(m: XmlModel): Map[String, String] = m.fileElements.map { case (f, n) =>
    f -> (if (n > 0) Audit.Status.Staged else Audit.Status.ErrorParsingEmpty)
  }.toMap

  /** Every tag of the model has a view, and the view has the tag's
    * `{table}_value` column.
    */
  def checkViews(views: Map[String, DataFrame], m: XmlModel): Seq[String] = {
    val wantTables = m.tables.map(_.toLowerCase)
    val missing = wantTables -- views.keySet
    val noValue = wantTables.toSeq.sorted.flatMap(t =>
      views.get(t).filterNot(_.columns.contains(s"${t}_value")).map(_ => s"view $t lacks ${t}_value"))
    (if (missing.nonEmpty) Seq(s"views missing: $missing") else Nil) ++ noValue.take(5)
  }

  /** The view columns cover the attributes the model wrote on each tag.
    * Problems read `view <table> lacks attribute columns <keys>`.
    */
  def checkViewAttrs(views: Map[String, DataFrame], m: XmlModel): Seq[String] =
    m.attrKeys.toSeq.sortBy(_._1).flatMap { case (t, keys) =>
      val have = views.get(t).map(_.columns.map(_.toLowerCase).toSet).getOrElse(Set.empty)
      val lacking = keys.toSet -- have
      if (lacking.nonEmpty) Seq(s"view $t lacks attribute columns ${lacking.toSeq.sorted.mkString(",")}") else Nil
    }

  /** The documented fault behind a `checkViewAttrs` problem:
    * `TagTables.wideViews` looks up a view's attribute columns by the
    * lower-cased table name, but `attributeColumns` keys them by the raw
    * `table_name`, so a tag none of whose spellings is all lower case gets
    * a view without attribute columns. Every NEMSIS tag has an upper-case
    * letter, so this fails on every input.
    */
  def viewAttrFault(m: XmlModel)(problem: String): Boolean = problem.startsWith("view ") && {
    val t = problem.split(' ')(1)
    val spellings = m.tables.filter(_.toLowerCase == t)
    spellings.nonEmpty && spellings.forall(r => r != r.toLowerCase)
  }

  /** Mirror checks: row counts per table equal the lake's (tag spellings
    * that differ only in case share a table), every model edge has its FK
    * constraint, every table has a column per attribute the model wrote on
    * its tag, and the audit holds one row per file with the right status.
    */
  def checkMirror(dbDir: Path, lakeCounts: Map[String, Long], m: XmlModel): Seq[String] = {
    val perTable = lakeCounts.groupBy(_._1.toLowerCase).map { case (t, c) => t -> c.values.sum }
    withConn(dbDir) { c =>
      val dbCounts = perTable.keys.map { t =>
        t -> query(c, s"""SELECT COUNT(*) FROM APP."$t"""").head.head.toLong
      }.toMap
      val fks = query(c, "SELECT t.TABLENAME, c.CONSTRAINTNAME FROM SYS.SYSCONSTRAINTS c " +
        "JOIN SYS.SYSTABLES t ON c.TABLEID = t.TABLEID WHERE c.TYPE = 'F'")
        .map(r => (r(0).toLowerCase, r(1).toLowerCase)).toSet
      val missingFk = m.edges.toSeq.filterNot { case (child, parent) =>
        fks.contains((child.toLowerCase, FkNames.fkConstraintName(child, parent).toLowerCase))
      }
      val columns = query(c, "SELECT t.TABLENAME, c.COLUMNNAME FROM SYS.SYSCOLUMNS c " +
        "JOIN SYS.SYSTABLES t ON c.REFERENCEID = t.TABLEID")
        .groupBy(_.head.toLowerCase).map { case (t, rows) => t -> rows.map(_(1).toLowerCase).toSet }
      val missingColumns = m.attrKeys.toSeq.sortBy(_._1).flatMap { case (t, keys) =>
        (keys.toSet -- columns.getOrElse(t, Set.empty)).map(k => s"mirror table $t lacks attribute column $k")
      }
      val audit = query(c, "SELECT OriginalFileName, Status FROM APP.XMLFilesProcessed")
        .map(r => r(0).split('/').last -> r(1))
      diff("mirror rows", dbCounts, perTable) ++
        missingFk.take(5).map(e => s"no FK constraint for edge $e") ++ missingColumns.take(5) ++
        (if (audit.size != m.fileElements.size) Seq(s"mirror audit rows: got ${audit.size}, want ${m.fileElements.size}") else Nil) ++
        diff("mirror audit status", audit.toMap, wantStatus(m))
    }
  }
}
