package perfbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.CurateMain
import graft.ops.{Curation, Dedup, Pipeline, SuffixArray, TextAnalysis}

/** The curation operators, no ETL code: `CurateMain.run` (parquet) over a
  * seeded corpus with planted duplicates, benchmark copies and low-quality
  * texts, then `SuffixArray.crossDocRepeats` over the documents of one
  * source. A round is one curation run (timed as `write`, until shards and
  * manifest are written) and one repeat search (timed as `consume`), with
  * two checked operations.
  */
final class CorpusCurate(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}
  import spark.implicits._

  val Docs = 600
  val Sources = 12
  val BenchDocs = 40
  val ShardBudget = 2048L
  val Tau = 0.5
  val RepeatSource = "src0"

  private var model: CorpusModel = _
  private var corpusPath: String = _
  private var benchPath: String = _
  private var cycle = 0
  private var lastStored = 0L

  private def corpus: DataFrame = spark.read.parquet(corpusPath)
  private def bench: DataFrame = spark.read.parquet(benchPath)

  def setUp(): Unit = {
    model = new CorpusGen(ctx.seed).generate(Docs, Sources, BenchDocs)
    corpusPath = ctx.work.resolve("corpus").toString
    benchPath = ctx.work.resolve("bench").toString
    model.docs.toSeq.toDF().write.parquet(corpusPath)
    model.bench.toSeq.toDF().coalesce(1).write.parquet(benchPath)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def round(): Unit = {
    val out = ctx.work.resolve(s"out$cycle")
    cycle += 1
    ctx.timed("write") {
      CurateMain.run(spark, corpusPath, out.toString, "parquet", Some(benchPath), Tau, ShardBudget,
        "doc_id", "text", "source")
    }
    val slice = corpus.where(col("source") === RepeatSource)
    val repeats = ctx.timed("consume") {
      tracer.call("ops.repeats")(SuffixArray.crossDocRepeats(slice).collect())
    }
    ctx.endCycle()
    // traced runs only, after the timed cycle so that they do not warm it
    if (tracer.enabled) stages()
    ctx.op("curate")(checkCurate(out))
    ctx.op("repeats")(checkRepeats(repeats.map(row =>
      (row.getString(0), row.getAs[Number](1).longValue, row.getString(2))).toSeq))
    lastStored = EtlSupport.listing(out.resolve("shards")).values.map(_._1).sum
    EtlSupport.deleteTree(out)
    ctx.released()
  }

  /** `Pipeline.curate` and its stages, each forced on its own. */
  private def stages(): Unit = {
    tracer.call("ops.curate")(noop(Pipeline.curate(corpus, bench, "doc_id", "text", "source", Tau, ShardBudget)))
    ctx.released()
    tracer.call("ops.exact_dedup")(noop(Dedup.exactGroups(corpus, "doc_id", "text")))
    tracer.call("ops.near_dedup")(noop(Dedup.connectedComponentsOverBuckets(corpus, "doc_id", "text")))
    ctx.released()
    tracer.call("ops.decontam")(noop(Curation.contaminationScores(corpus, bench, "doc_id", "text")))
    val grouped = corpus.withColumn("__grp", concat_ws("|", Curation.splitAssign(col("doc_id")), col("source")))
    tracer.call("ops.pack")(noop(Curation.packShards(grouped, "__grp", "doc_id",
      TextAnalysis.wsTokenCount(col("text")), ShardBudget)))
  }

  private def checkCurate(out: Path): Seq[String] = {
    val disp = Pipeline.dropAudit(corpus, bench, "doc_id", "text", Tau).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    val inputIds = model.docs.map(_.doc_id).toSet
    // (doc_id, split, source, shard, n_tokens) of every output document
    val rows = spark.read.parquet(s"$out/shards").select("doc_id", "split", "source", "shard", "n_tokens")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getAs[Number](3).longValue, r.getLong(4)))
      .toSeq
    val keptSet = rows.map(_._1).toSet
    val auditKept = disp.collect { case (id, "kept") => id }.toSet
    // packShards puts a document in the shard holding its first token, so
    // every document of a shard but the last starts and ends inside the budget
    val overfull = rows.groupBy(r => (r._2, r._3, r._4)).values.count { docs =>
      docs.map(_._5).sum - docs.maxBy(_._1)._5 >= ShardBudget
    }
    val manifest = spark.read.parquet(s"$out/manifest").agg(sum("n_docs"), sum("shard_tokens")).head()
    val tokens = rows.map(_._5).sum
    (if (disp.size != inputIds.size || disp.map(_._1).toSet != inputIds)
      Seq(s"dropAudit: ${disp.size} dispositions for ${inputIds.size} inputs") else Nil) ++
      (if (rows.size != keptSet.size) Seq("output holds a document twice") else Nil) ++
      (if (auditKept != keptSet) Seq(s"kept (${auditKept.size}) differs from output (${keptSet.size})") else Nil) ++
      model.exactSets.filter(s => s.count(keptSet) > 1).take(3).map(s => s"exact-duplicate set $s: ${s.count(keptSet)} survive") ++
      model.contaminated.filter(keptSet).take(3).map(id => s"contaminated doc $id survives") ++
      model.lowQuality.filter(keptSet).take(3).map(id => s"low-quality doc $id survives") ++
      (if (overfull > 0) Seq(s"$overfull shards exceed the budget before their last document") else Nil) ++
      (if (manifest.getLong(0) != rows.size || manifest.getLong(1) != tokens)
        Seq(s"manifest totals ${manifest.getLong(0)} docs / ${manifest.getLong(1)} tokens, " +
          s"shards ${rows.size} / $tokens") else Nil)
  }

  /** Every reported repeat is a substring of two distinct documents of its source. */
  private def checkRepeats(reps: Seq[(String, Long, String)]): Seq[String] = {
    val texts = model.docs.filter(_.source == RepeatSource).map(_.text)
    (if (reps.isEmpty) Seq("no repeat reported") else Nil) ++ reps.flatMap { case (src, len, w) =>
      val holders = texts.count(_.indexOf(w) >= 0)
      (if (src != RepeatSource) Seq(s"repeat reported for source $src") else Nil) ++
        (if (w.length != len) Seq(s"witness length ${w.length} != cross_len $len") else Nil) ++
        (if (holders < 2) Seq(s"witness of length $len found in $holders documents") else Nil)
    }
  }

  def endToEnd(): Seq[(String, Double, String)] = {
    val inBytes = model.docs.map(_.text.getBytes("UTF-8").length.toLong).sum
    Seq(("write_cpu_s", ctx.median("write.cpu_s"), "s"), ("consume_cpu_s", ctx.median("consume.cpu_s"), "s"),
      ("stored_bytes_per_input_byte", lastStored.toDouble / inBytes, "ratio"))
  }
}
