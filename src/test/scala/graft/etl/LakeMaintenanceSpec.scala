package graft.etl

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

class LakeMaintenanceSpec extends AnyFunSuite with SparkSpec {

  private def xml(pcr: String, v: String): String =
    s"""<EMSDataSet xmlns="http://www.nemsis.org">
       |<PatientCareReport UUID="$pcr">
       |<eVitals.06>$v</eVitals.06>
       |</PatientCareReport>
       |</EMSDataSet>""".stripMargin

  test("compaction shrinks file counts without changing lake content") {
    import spark.implicits._
    val lake = Files.createTempDirectory("graft_compact_lake").toString
    // a fragmented lake: 8 tasks x 3 tags worth of files
    val tall = (1 to 40).map(i => (s"f$i.xml", xml(s"pcr-$i", i.toString)))
      .toDF("name", "content").as[(String, String)]
      .flatMap { case (n, c) =>
        XmlFlatten.parse(c.getBytes("UTF-8"), n, "md5", XmlFlatten.DeterministicId)
      }.toDF().repartition(8)
    TagTables.writeTall(tall, IngestPipeline.elementsPath(lake))
    val beforeRows = spark.read.parquet(IngestPipeline.elementsPath(lake))
      .select("element_id", "text_value").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap

    val res = LakeMaintenance.compactElements(spark, lake,
      targetRowsPerFile = 1000000L, sortByPcr = true)
    assert(res.filesBefore > res.filesAfter)
    assert(res.filesAfter <= 3) // one file per tag at this size
    assert(res.rows == beforeRows.size)

    val after = spark.read.parquet(IngestPipeline.elementsPath(lake))
    val afterRows = after.select("element_id", "text_value").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(afterRows == beforeRows)
    // partition-pruned per-tag reads still work on the compacted layout
    assert(after.where(col("table_name") === "eVitals_06").count() == 40)
  }

  test("lake lock serializes writers and fails loudly on a stale lock") {
    val lake = Files.createTempDirectory("graft_lock_lake").toString
    // a second writer must WAIT for the first, not interleave; a latch
    // (not a sleep) guarantees A holds the lock before B tries — no
    // scheduling race on a loaded machine
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val aHoldsLock = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => IngestPipeline.withLakeLock(spark, lake) {
      order.add("a_in"); aHoldsLock.countDown(); Thread.sleep(500); order.add("a_out")
    })
    t.start()
    aHoldsLock.await()
    IngestPipeline.withLakeLock(spark, lake) { order.add("b_in") }
    t.join()
    assert(order.toArray.toSeq == Seq("a_in", "a_out", "b_in"))

    // an orphaned lock (crashed writer) blocks until timeout, then the
    // error names the lock path for the operator
    Files.createFile(java.nio.file.Paths.get(lake, ".lake_lock"))
    val e = intercept[java.io.IOException] {
      IngestPipeline.withLakeLock(spark, lake, lockTimeoutMs = 500) { () }
    }
    assert(e.getMessage.contains(".lake_lock"))
  }
}
