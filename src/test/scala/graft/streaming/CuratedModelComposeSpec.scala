package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.ops.LangModel

/** The full incremental stack composed: landing stream → settle
  * (dedup + decontaminate + quality) → LM model maintenance on the
  * SURVIVORS. The maintained model must equal a direct train on
  * exactly the streamed curated corpus — rejects (duplicates, quality
  * victims, benchmark hits) must never contribute counts.
  */
class CuratedModelComposeSpec extends AnyFunSuite with SparkSpec {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType)))

  private def passingText(seed: Int): String = {
    val words = "the" +:
      f"doc$seed%02d" +:
      (0 until 14).map(i => f"q$seed%02d${('a' + i).toChar}") ++:
      (0 until 14).map(i => f"z$seed%02d${('a' + i).toChar}x")
    words.mkString(" ")
  }

  test("settle feeds the LM: maintained model == direct train on the curated survivors") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val batch1 = Seq(
      (1L, passingText(1), "srcA"),
      (2L, passingText(2), "srcA"),
      (3L, passingText(3), "srcA"),        // benchmark hit — decontaminated
      (4L, "too short to train", "srcA"))  // quality victim
    val batch2 = Seq(
      (11L, passingText(1), "srcA"),       // cross-batch exact dup of doc 1
      (12L, passingText(5), "srcB"),
      (13L, passingText(5), "srcB"),       // in-batch exact dup of doc 12
      (14L, passingText(6), "srcA"))
    val bench = Seq((3L, passingText(3), "srcA")).toDF("doc_id", "text", "source")

    val state = java.nio.file.Files.createTempDirectory("graft_cm_state").toString
    val out = java.nio.file.Files.createTempDirectory("graft_cm_out").toString
    val model = java.nio.file.Files.createTempDirectory("graft_cm_model").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cm_ckpt").toString

    val in = MemoryStream[(Long, String, String)]
    val q = PipelineStreams.incrementalCurateWithModel(
      in.toDS().toDF("doc_id", "text", "source"), bench,
      "doc_id", "text", state, out, model, ckpt)
    try {
      in.addData(batch1: _*); q.processAllAvailable()
      in.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()

    // rejects never reach the model: the curated corpus is docs
    // 1, 2, 12, 14 (3 decontaminated, 4 low-quality, 11/13 duplicates)
    val curated = PipelineStreams.curated(spark, out, docSchema)
    assert(curated.select("doc_id").as[Long].collect().toSet ===
      Set(1L, 2L, 12L, 14L))

    val maintained = ModelStreams.loadModel(spark, model)
    val direct = LangModel.train(
      curated.select("doc_id", "text"), "text")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSet
    assert(maintained.vocab === direct.vocab)
    assert(rows(maintained.uni) === rows(direct.uni))
    assert(rows(maintained.bi) === rows(direct.bi))
    // the rejected text's tokens are absent from the maintained vocab
    assert(maintained.uni.where(org.apache.spark.sql.functions.col("w1") === "short")
      .count() === 0)

    // compaction of the composed model state is reader-invariant too
    ModelStreams.compact(spark, model)
    val compacted = ModelStreams.loadModel(spark, model)
    assert(compacted.vocab === direct.vocab)
    assert(rows(compacted.uni) === rows(direct.uni))
  }
}
