package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Per-tag table routing (SURVEY A11/A12/A16): the reference fans each
  * element out to one Postgres table per sanitized tag, columns = 5 fixed
  * + one per observed attribute (`main_ingest.py:197-272`).
  *
  * Spark-first form: the canonical store is the single tall DataFrame
  * written `partitionBy("table_name")` — schema evolution is free
  * (attributes live in a MapType column), partition pruning turns
  * per-tag queries into per-tag scans, and no driver-side loop touches
  * row data. The reference's wide per-tag relational shape is a *view*
  * derived on demand (`wideView`), and only its attribute-key discovery
  * needs a (single, set-oriented) aggregation.
  */
object TagTables {

  /** Fixed columns of every dynamic table (`main_ingest.py:210-216`). */
  val CommonColumns: Seq[String] =
    Seq("element_id", "parent_element_id", "pcr_uuid_context", "original_tag_name")

  /** What a batch holds of one tag table: the smallest XML path among its
    * elements (`min` makes the reference's "first element seen"
    * deterministic, `main_ingest.py:235-240`), its attribute keys
    * lowercased as the DDL layer does (`main_ingest.py:221`) minus the
    * fixed columns, and its observed (child_table, parent_table) edges
    * with the tags' original spellings (FK names keep them).
    */
  final case class TableInfo(elementPath: String, attributes: Seq[String],
      fkEdges: Seq[(String, String)])

  /** Every table of a batch in ONE distributed aggregation (vs the
    * reference's per-row `information_schema` probing), keyed by the
    * lowercased table name. Tag spellings that differ only in case
    * (`<eVitals.06>`, `<EVitals.06>`) land in the same table, so their
    * paths, attribute keys and edges are merged here.
    */
  def tableInfo(tall: DataFrame): Map[String, TableInfo] =
    tall.groupBy(col("table_name"))
      .agg(min(col("element_path")),
        collect_set(transform(map_keys(col("attributes")), lower(_))),
        collect_set(col("parent_table_name")))
      .collect()
      .groupBy(_.getString(0).toLowerCase)
      .map { case (t, rows) =>
        t -> TableInfo(
          rows.map(_.getString(1)).min,
          rows.flatMap(_.getSeq[scala.collection.Seq[String]](2)).flatten.distinct
            .filterNot(CommonColumns.contains).sorted.toSeq,
          rows.flatMap(r => r.getSeq[String](3).map(r.getString(0) -> _)).sorted.toSeq)
      }

  /** Attribute keys per table, keyed by the lowercased table name. */
  def attributeColumns(tall: DataFrame): Map[String, Seq[String]] =
    tableInfo(tall).map { case (t, info) => t -> info.attributes }

  /** The reference's per-tag wide table shape, the one definition the
    * views and the JDBC mirror share: `element_id, parent_element_id,
    * pcr_uuid_context, original_tag_name, {table}_value, <attr columns...>`
    * in DDL order. Each column comes with its source: `Left` names the
    * tall column that fills it, `Right` the lowercased attribute key.
    * Attribute column names are sanitized and lowercased (the DDL
    * contract, `main_ingest.py:219-227`); one that collides with a fixed
    * column is dropped.
    */
  def wideColumns(tableNameRaw: String, attrCols: Seq[String]): Seq[(String, Either[String, String])] = {
    val fixed: Seq[(String, Either[String, String])] = Seq(
      "element_id" -> Left("element_id"),
      "parent_element_id" -> Left("parent_element_id"),
      "pcr_uuid_context" -> Left("pcr_uuid_context"),
      "original_tag_name" -> Left("element_tag"),
      Sanitize.valueColumnName(tableNameRaw) -> Left("text_value"))
    val attrs = attrCols.map(k => Sanitize.sanitizeXmlName(k).toLowerCase -> Right(k.toLowerCase))
    (fixed ++ attrs).distinctBy(_._1)
  }

  /** The wide shape of one tag as a DataFrame view, all StringType
    * ("typing is the querier's job", SURVEY §1.2).
    */
  def wideView(tall: DataFrame, tableNameRaw: String, attrCols: Seq[String]): DataFrame = {
    // attribute COLUMN names are lowercased (DDL contract) but the map
    // keys keep the XML's original case — lookups must be case-blind
    val loweredAttrs = transform_keys(col("attributes"), (k, _) => lower(k))
    tall.where(lower(col("table_name")) === tableNameRaw.toLowerCase)
      .select(wideColumns(tableNameRaw, attrCols).map {
        case (name, Left(tallCol)) => col(tallCol).as(name)
        case (name, Right(key)) => element_at(loweredAttrs, key).as(name)
      }: _*)
  }

  /** All wide views, tables and attribute sets discovered in one pass. */
  def wideViews(tall: DataFrame): Map[String, DataFrame] =
    attributeColumns(tall).map { case (t, attrs) => t -> wideView(tall, t, attrs) }

  /** Canonical lake write: tall table partitioned by tag. Dynamic
    * partition overwrite only rewrites the tags present in `tall`.
    */
  def writeTall(tall: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    tall.write
      .partitionBy("table_name")
      .option("partitionOverwriteMode", "dynamic")
      .mode(mode)
      .parquet(path)

  /** Parent->child FK edge set (SURVEY A18): distinct observed
    * (child_table, parent_table) pairs, the input to FK synthesis.
    */
  def fkEdges(tall: DataFrame): DataFrame =
    tall.select(col("table_name").as("child_table"),
        col("parent_table_name").as("parent_table"))
      .where(col("parent_table").isNotNull)
      .distinct()
}
