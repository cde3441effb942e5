package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.ops.Pipeline

/** The composed curation stream (exact dedup + NEAR-DUP keep-best +
  * gates, per batch) must settle to Pipeline.curate stages 1–4 over
  * the union of the batches — at every prefix, including a cross-batch
  * near-dup pair only the persisted band index catches, a RETROACTIVE
  * winner flip (a later batch delivers a better cluster member), and
  * through compaction.
  */
class CuratedClusterStreamsSpec extends AnyFunSuite with SparkSpec {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType)))

  /** Quality-passing near-dup family text: members share the 29-word
    * base (so minhash bands collide) and differ in ONE trailing word
    * whose length sets the keep-best quality. Mean word length stays in
    * the [4.3, 4.7] gate band for trailing words of 4–8 chars.
    */
  private def famText(p: String, tail: String): String = {
    val words = "the" +:
      (0 until 14).map(i => s"q$p${('a' + i).toChar}") ++:
      (0 until 14).map(i => s"z$p${('a' + i).toChar}x") :+ tail
    words.mkString(" ")
  }

  private def curatedRows(stateDir: String) =
    PipelineStreams.curatedClustered(spark, stateDir, docSchema, "doc_id")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  private def batchRows(docs: Seq[(Long, String, String)],
      bench: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    Pipeline.curate(docs.toDF("doc_id", "text", "source"), bench,
        "doc_id", "text", "source")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
  }

  test("composed stream == batch p01 stages over the union at every prefix, with a retroactive cross-batch winner flip, through compaction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val batch1 = Seq(
      (1L, famText("aa", "e1xx"), "srcA"),    // alpha member (q=len)
      (2L, famText("aa", "e2xxx"), "srcA"),   // alpha: longer -> interim winner
      (3L, famText("bb", "e3xx"), "srcA"),    // benchmark hit -> contaminated
      (4L, "too short to train", "srcA"))     // quality kill
    val batch2 = Seq(
      (11L, famText("aa", "e1xx"), "srcA"),   // exact copy of doc 1 (fp state)
      (12L, famText("aa", "e5xxxxxx"), "srcB"), // alpha: LONGEST -> flips winner
      (13L, famText("cc", "e6xx"), "srcB"))   // fresh singleton
    val bench = Seq((3L, famText("bb", "e3xx"), "srcA"))
      .toDF("doc_id", "text", "source")

    val state = java.nio.file.Files.createTempDirectory("graft_ccs_state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ccs_ckpt").toString

    val in = MemoryStream[(Long, String, String)]
    val q = PipelineStreams.incrementalCurateClustered(
      in.toDS().toDF("doc_id", "text", "source"), bench,
      "doc_id", "text", state, ckpt)
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      val prefix1 = curatedRows(state)
      assert(prefix1 == batchRows(batch1, bench),
        s"prefix 1 diverged: $prefix1")
      // interim alpha winner is doc 2 (longest member so far)
      assert(prefix1.exists(_._1 == 2L) && !prefix1.exists(_._1 == 1L))

      in.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()

    val expected = batchRows(batch1 ++ batch2, bench)
    val streamed = curatedRows(state)
    assert(streamed == expected, s"stream settled to $streamed")
    // the flip only happens if the persisted band index connected
    // batch 2's doc 12 to batch 1's alpha cluster: 12 in, 1 and 2 out
    assert(streamed.exists(_._1 == 12L))
    assert(!streamed.exists(r => r._1 == 1L || r._1 == 2L),
      "retroactive keep-best must dethrone the earlier winner")
    assert(!streamed.exists(_._1 == 11L),
      "cross-batch exact copy must be dropped via the fingerprint state")
    assert(!streamed.exists(r => r._1 == 3L || r._1 == 4L))

    // compaction folds cluster state, fingerprints and candidates; the
    // curated view is invariant
    PipelineStreams.compactClustered(spark, state, "doc_id")
    assert(curatedRows(state) == expected, "compaction must not change the view")
    // and it actually compacted: one effective cluster commit remains
    val eff = ClusterStreams.layout.marks(spark, s"$state/cluster").effective
    assert(eff.size == 1 && eff.head < 0L, eff)
    // a second compaction is a no-op that stays readable
    PipelineStreams.compactClustered(spark, state, "doc_id")
    assert(curatedRows(state) == expected)
  }

  test("compactClustered folds only marker-vouched partitions: a crashed batch's fp/cands stay under their own id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val state = java.nio.file.Files.createTempDirectory("graft_ccs3_state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ccs3_ckpt").toString
    val bench = Seq((999L, famText("zz", "benx"), "srcA"))
      .toDF("doc_id", "text", "source")
    val b1 = Seq((1L, famText("gg", "e1xx"), "srcA"))
    val b2 = Seq((2L, famText("hh", "e2xx"), "srcA"))
    val in = MemoryStream[(Long, String, String)]
    val q = PipelineStreams.incrementalCurateClustered(
      in.toDS().toDF("doc_id", "text", "source"), bench,
      "doc_id", "text", state, ckpt)
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // simulate a batch that crashed after its fp write but BEFORE its
    // cluster commit marker: fp/batch_id=7 exists, no marker vouches it
    Seq("deadbeef").toDF("fingerprint")
      .write.parquet(s"$state/fp/batch_id=7")
    // and dead debris BELOW the vouched horizon (an unvouched negative
    // id can never be a live batch) — compaction must reclaim it
    Seq("stale").toDF("fingerprint")
      .write.parquet(s"$state/fp/batch_id=-9")
    PipelineStreams.compactClustered(spark, state, "doc_id")
    val fpIds = PipelineStreams.fingerprints(spark, s"$state/fp")
      .select("batch_id").distinct().collect().map(_.getLong(0)).toSet
    // vouched partitions (0, 1) folded into the negative base; the
    // crashed partition must survive under its own id — folding it
    // into the base would hand the replayed batch its own fingerprints
    // as history (batch_id < 7 admits the base) and the batch would
    // settle to empty
    assert(fpIds.exists(_ < 0L) && fpIds.contains(7L), fpIds)
    assert(!fpIds.contains(0L) && !fpIds.contains(1L), fpIds)
    assert(!fpIds.contains(-9L), s"below-horizon debris must be GC'd: $fpIds")
    val below7 = PipelineStreams.fingerprints(spark, s"$state/fp")
      .where(col("batch_id") < 7).select("fingerprint")
      .collect().map(_.getString(0)).toSet
    assert(!below7.contains("deadbeef"),
      "the replayed batch must not see its own fingerprints")
    // and the curated view is unchanged by the crashed debris
    assert(curatedRows(state) == batchRows(b1 ++ b2, bench))
  }

  test("a batch arriving AFTER compaction still probes the folded index (cross-compaction near-dup)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val state = java.nio.file.Files.createTempDirectory("graft_ccs2_state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ccs2_ckpt").toString
    val bench = Seq((999L, famText("zz", "benx"), "srcA"))
      .toDF("doc_id", "text", "source")
    val b1 = Seq((1L, famText("dd", "e1xx"), "srcA"),
      (2L, famText("ee", "e2xx"), "srcA"))
    val b2 = Seq((3L, famText("ff", "e3xx"), "srcA"))
    val b3 = Seq((4L, famText("dd", "e4xxxxxx"), "srcB")) // dd near-dup, longest

    val in = MemoryStream[(Long, String, String)]
    val q = PipelineStreams.incrementalCurateClustered(
      in.toDS().toDF("doc_id", "text", "source"), bench,
      "doc_id", "text", state, ckpt)
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      PipelineStreams.compactClustered(spark, state, "doc_id")
      in.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = curatedRows(state)
    assert(streamed == batchRows(b1 ++ b2 ++ b3, bench), streamed)
    assert(streamed.exists(_._1 == 4L) && !streamed.exists(_._1 == 1L),
      "the folded band index must still connect the post-compaction arrival")
  }
}
