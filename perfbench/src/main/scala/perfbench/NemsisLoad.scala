package perfbench

import java.nio.file.Path

import org.apache.spark.sql.functions._

import graft.etl.{IngestPipeline, JdbcMirror, NemsisXmlReader, TagTables}

/** The NEMSIS path, XML -> lake -> relational mirror, then a correction.
  *
  * One cycle (one round) does, on a fresh lake and a fresh embedded Derby
  * database:
  *   1. bulk load: `IngestPipeline.ingestDirectory` over the seeded files
  *      (one of them malformed), then every `TagTables.wideViews` view forced;
  *   2. mirror: `JdbcMirror.mirrorBatch` and `mirrorAudit` into Derby;
  *   3. resync: `ingestDirectory` again, over one correction batch that
  *      re-issues a few PCRs with changed values and issues one new PCR in
  *      two files (`dupA`, `dupB`), into the loaded lake;
  *   4. lookups: single-PCR reads of the lake.
  *
  * Checked operations per round: lake, views, view attributes, mirror,
  * resync, and one per lookup. Two of them fail on every run, each because
  * of a program fault, and count as failed operations:
  *   - resync: `KeyedOverwrite.multiKey` evicts only rows already in the
  *     lake and then appends the whole batch, so both versions of the
  *     doubled PCR land;
  *   - view attributes: `TagTables.wideViews` drops the attribute columns
  *     of every tag with an upper-case letter (`EtlSupport.viewAttrFault`).
  *
  * Timed operations: `write` (bulk load until the lake is committed and all
  * views are forced), `consume` (mirrorBatch + mirrorAudit), `resync`, and
  * `lookup`.
  */
final class NemsisLoad(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}

  val BulkFiles = 24
  val PcrsPerFile = 80
  val Reissued = 2
  /** attribute the correction batch adds to the existing tag `eVitals.10` */
  val NewAttr = "Revision"

  private var bulkDir: Path = _
  private var fixDir: Path = _
  /** what the bulk files hold */
  private val bulk = new XmlModel
  /** what the correction files hold */
  private val fix = new XmlModel
  private var dup: String = _
  private var reissued: Seq[String] = _
  private var cycle = 0
  private var lastLakeBytes = 0L

  def setUp(): Unit = {
    bulkDir = ctx.dir("bulk")
    fixDir = ctx.dir("fix")
    val gen = new NemsisGen(ctx.seed)
    (0 until BulkFiles).foreach { i =>
      gen.writeFile(bulkDir, f"pcr_$i%03d.xml", gen.newPcrIds(PcrsPerFile).map(_ -> 1), bulk)
    }
    gen.writeMalformed(bulkDir, "broken.xml", bulk)
    reissued = bulk.pcrVersion.keys.toSeq.sorted.take(Reissued)
    reissued.foreach(id =>
      gen.writeFile(fixDir, s"fix_${id.take(8)}.xml", Seq(id -> 2), fix, extraAttr = Some(NewAttr -> "1")))
    dup = gen.newPcrIds(1).head
    gen.writeFile(fixDir, "dupA.xml", Seq(dup -> 1), fix)
    gen.writeFile(fixDir, "dupB.xml", Seq(dup -> 2), fix)
  }

  def round(): Unit = {
    val lake = ctx.dir(s"lake$cycle")
    val db = ctx.work.resolve(s"derby$cycle")
    cycle += 1
    EtlSupport.createDb(db)
    val glob = s"$bulkDir/*.xml"
    val elements = IngestPipeline.elementsPath(lake.toString)

    val views = ctx.timed("write") {
      tracer.call("etl.ingest")(IngestPipeline.ingestDirectory(spark, glob, lake.toString))
      tracer.call("etl.views") {
        val vs = TagTables.wideViews(spark.read.parquet(elements))
        vs.values.foreach(_.write.format("noop").mode("overwrite").save())
        vs
      }
    }
    val cfg = EtlSupport.mirrorConfig(db)
    val tables = ctx.timed("consume") {
      val t = tracer.call("etl.mirror")(JdbcMirror.mirrorBatch(spark.read.parquet(elements), cfg))
      JdbcMirror.mirrorAudit(spark.read.parquet(IngestPipeline.auditPath(lake.toString)), cfg)
      t
    }
    val afterLoad = EtlSupport.listing(lake)
    lastLakeBytes = afterLoad.values.map(_._1).sum
    if (tracer.enabled) {
      tracer.add("etl.ingest.files_written", afterLoad.size)
      tracer.add("etl.ingest.bytes_written", lastLakeBytes)
      tracer.add("etl.ingest.write_amp", lastLakeBytes.toDouble / bulk.xmlBytes)
      tracer.add("etl.mirror.rows", bulk.fileElements.values.sum)
      tracer.add("etl.mirror.tables", tables.size)
    }
    var lakeCounts = Map.empty[String, Long]
    ctx.op("load.lake") {
      val (problems, counts) = EtlSupport.checkLake(spark.read.parquet(elements),
        spark.read.parquet(IngestPipeline.fkEdgesPath(lake.toString)),
        spark.read.parquet(IngestPipeline.auditPath(lake.toString)), bulk)
      lakeCounts = counts
      problems
    }
    ctx.op("load.views")(EtlSupport.checkViews(views, bulk))
    ctx.op("load.views.attrs", known = EtlSupport.viewAttrFault(bulk))(EtlSupport.checkViewAttrs(views, bulk))
    ctx.op("load.mirror")(EtlSupport.checkMirror(db, lakeCounts, bulk))

    resync(lake)
    lookups(elements)
    ctx.endCycle()
    // traced runs only, after the timed cycle so that it does not warm it
    if (tracer.enabled)
      tracer.call("etl.parse")(NemsisXmlReader.readTall(spark, glob).write.format("noop").mode("overwrite").save())
    val afterResync = EtlSupport.listing(lake)
    tracer.add("etl.lake.files", afterResync.size)
    tracer.add("etl.lake.bytes", afterResync.values.map(_._1).sum)

    EtlSupport.shutdownDb(db)
    Seq(db, lake).foreach(EtlSupport.deleteTree)
    ctx.released()
  }

  /** Re-ingests the correction files into the loaded lake through the
    * same batch entry point: the keyed overwrite replaces the re-issued
    * PCRs and rewrites the whole lake.
    */
  private def resync(lake: Path): Unit = {
    val before = if (tracer.enabled) EtlSupport.listing(lake) else Map.empty[String, (Long, Long)]
    ctx.timed("resync") {
      tracer.call("etl.resync")(IngestPipeline.ingestDirectory(spark, s"$fixDir/*.xml", lake.toString))
    }
    if (tracer.enabled) {
      val (nFiles, nBytes) = EtlSupport.written(before, EtlSupport.listing(lake))
      tracer.add("etl.resync.files_written", nFiles)
      tracer.add("etl.resync.bytes_written", nBytes)
      tracer.add("etl.resync.write_amp", nBytes.toDouble / fix.xmlBytes)
    }
    ctx.op("resync", known = _.contains(dup))(checkVersions(lake))
  }

  /** The version every PCR should hold after the correction batch. */
  private def want(id: String): Int = fix.pcrVersion.getOrElse(id, bulk.pcrVersion(id))
  private def wantElements(id: String): Int = fix.pcrElements.getOrElse(id, bulk.pcrElements(id))

  /** Every PCR holds exactly its latest version in the lake, and the new
    * attribute is on exactly the rows the model wrote it on.
    */
  private def checkVersions(lake: Path): Seq[String] = {
    val agg = spark.read.parquet(IngestPipeline.elementsPath(lake.toString))
      .where(col("pcr_uuid_context").isNotNull)
      .groupBy("pcr_uuid_context")
      .agg(count(lit(1)), collect_list(when(col("table_name") === "eRecord_04", col("text_value"))),
        count(when(col("table_name") === "eVitals_10" && element_at(col("attributes"), NewAttr).isNotNull, 1)))
      .collect()
    val lakeRows = agg.map(r => r.getString(0) -> (r.getLong(1), r.getSeq[String](2).sorted)).toMap
    val withAttr = agg.map(_.getLong(3)).sum
    val ids = (bulk.pcrVersion.keySet ++ fix.pcrVersion.keySet).toSeq.sorted
    ids.flatMap { id =>
      val v = Seq(s"v${want(id)}")
      val (n, lakeVersions) = lakeRows.getOrElse(id, (0L, Seq.empty))
      (if (lakeVersions != v) Seq(s"PCR $id: lake versions $lakeVersions, want $v") else Nil) ++
        (if (n != wantElements(id)) Seq(s"PCR $id: lake holds $n elements, want ${wantElements(id)}") else Nil)
    } ++ (lakeRows.keySet -- ids).map(id => s"lake holds unknown PCR $id") ++
      (if (withAttr != fix.attrUses(NewAttr.toLowerCase))
        Seq(s"lake rows with attribute $NewAttr: $withAttr, want ${fix.attrUses(NewAttr.toLowerCase)}") else Nil)
  }

  private def lookups(elements: String): Unit =
    reissued.foreach { id =>
      val df = spark.read.parquet(elements).where(col("pcr_uuid_context") === id)
        .select("table_name", "text_value")
      val rows = ctx.timed("lookup")(tracer.call("etl.lookup")(df.collect()))
      if (tracer.enabled) tracer.add("etl.lookup.files_read", EtlSupport.filesRead(df))
      ctx.op("lookup") {
        val versions = rows.filter(_.getString(0) == "eRecord_04").map(_.getString(1)).toSeq
        (if (rows.length != wantElements(id)) Seq(s"PCR $id: ${rows.length} elements, want ${wantElements(id)}") else Nil) ++
          (if (versions != Seq(s"v${want(id)}")) Seq(s"PCR $id: versions $versions, want v${want(id)}") else Nil)
      }
    }

  def endToEnd(): Seq[(String, Double, String)] = Seq(
    ("write_cpu_s", ctx.median("write.cpu_s"), "s"), ("consume_cpu_s", ctx.median("consume.cpu_s"), "s"),
    ("stored_bytes_per_input_byte", lastLakeBytes.toDouble / bulk.xmlBytes, "ratio"))
}
