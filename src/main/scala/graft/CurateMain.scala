package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.Pipeline
import graft.sources.Jsonl

/** CLI surface for the composed curation pipeline — the operational
  * face of p01 (`graft.ops.Pipeline.curate`), so "run the pipeline on
  * my corpus" is one command rather than library assembly:
  *
  * {{{
  * runMain graft.CurateMain <corpusPath> <outDir>
  *   [--benchmark <path>] [--format jsonl|parquet]
  *   [--tau <0..1>] [--shard-budget <tokens>]
  *   [--id-col doc_id] [--text-col text] [--source-col source]
  * }}}
  *
  * `corpusPath` is a JSONL dir (the [[Jsonl]] landing layout; corrupt
  * lines are quarantined to `<outDir>/_quarantine`, never dropped
  * silently — the A22 lands-or-quarantines contract) or parquet.
  * `--benchmark` points at a corpus of eval texts to decontaminate
  * against (same format); omitted → decontamination is a no-op stage
  * over an empty benchmark.
  *
  * Output: the packed corpus written under `<outDir>/shards`
  * partitioned by (split, shard) — the layout training loaders consume
  * — plus the per-shard manifest (the p01 relation) to
  * `<outDir>/manifest` and a summary to stdout.
  */
object CurateMain {
  private val usage = "usage: CurateMain <corpusPath> <outDir> " +
    "[--benchmark <path>] [--format jsonl|parquet] [--tau <t>] " +
    "[--shard-budget <n>] [--id-col c] [--text-col c] [--source-col c]"

  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args, usage, positional = 2 to 2, valueKeys = Set(
      "--benchmark", "--format", "--tau", "--shard-budget", "--id-col",
      "--text-col", "--source-col"))
    val kv = a.values
    val Seq(corpusPath, outDir) = a.positional
    val format = kv.getOrElse("--format", "jsonl")
    require(format == "jsonl" || format == "parquet",
      s"--format must be jsonl or parquet, got $format\n$usage")
    val tau = kv.get("--tau").map(_.toDouble).getOrElse(0.5)
    val budget = kv.get("--shard-budget").map(_.toLong).getOrElse(4096L)
    val idCol = kv.getOrElse("--id-col", "doc_id")
    val textCol = kv.getOrElse("--text-col", "text")
    val sourceCol = kv.getOrElse("--source-col", "source")

    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, corpusPath, outDir, format, kv.get("--benchmark"),
      tau, budget, idCol, textCol, sourceCol)
    finally spark.stop()
  }

  private def corpusSchema(idCol: String, textCol: String,
      sourceCol: String): StructType =
    new StructType()
      .add(idCol, "long").add(textCol, "string").add(sourceCol, "string")

  /** Body split from main for spec-ability (no System.exit, real
    * SparkSession injected by the test).
    */
  def run(spark: SparkSession, corpusPath: String, outDir: String,
      format: String, benchmarkPath: Option[String], tau: Double,
      budget: Long, idCol: String, textCol: String,
      sourceCol: String): Unit = {
    // `role` keys the quarantine subdir: the corpus and --benchmark loads
    // must not clobber each other's corrupt-line records (both previously
    // wrote mode-overwrite to the same `_quarantine` path, so a benchmark
    // load silently erased the corpus's quarantine — breaking the A22
    // lands-or-quarantines contract).
    def load(path: String, role: String): DataFrame = format match {
      case "parquet" =>
        // same non-null contract as the jsonl branch: Pipeline.curate
        // requires non-null ids/texts, so a parquet corpus with null rows
        // must not enter the pipeline unchecked
        spark.read.parquet(path).select(idCol, textCol, sourceCol)
          .where(col(idCol).isNotNull && col(textCol).isNotNull)
      case _ =>
        val q = Jsonl.quarantine(
          Jsonl.read(spark, path, corpusSchema(idCol, textCol, sourceCol)))
        val nBad = q.corrupt.count()
        if (nBad > 0)
          q.corrupt.coalesce(1).write.mode("overwrite")
            .text(s"$outDir/_quarantine/$role")
        println(s"[curate] $path: quarantined $nBad corrupt line(s)")
        val clean = q.clean.where(col(idCol).isNotNull &&
          col(textCol).isNotNull).localCheckpoint(true)
        q.release()
        clean
    }
    val corpus = load(corpusPath, "corpus")
    val benchmark = benchmarkPath.map(load(_, "benchmark")).getOrElse(
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        corpusSchema(idCol, textCol, sourceCol)))

    val packed = Pipeline.curate(corpus, benchmark, idCol, textCol, sourceCol,
      tau, budget).localCheckpoint(true)
    // an empty result is legal (aggressive thresholds) but must be LOUD:
    // a partitioned parquet write of zero rows leaves an unreadable dir
    require(packed.head(1).nonEmpty,
      "curate produced ZERO documents — every input was deduped, " +
        "decontaminated, or killed by the quality gate; nothing written")
    packed.write.mode("overwrite").partitionBy("split", "shard")
      .parquet(s"$outDir/shards")
    val manifest = packed.groupBy("split", sourceCol, "shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("shard_tokens"),
        min(idCol).as(s"min_$idCol"))
      .orderBy("split", sourceCol, "shard")
    manifest.write.mode("overwrite").parquet(s"$outDir/manifest")
    val bySplit = packed.groupBy("split")
      .agg(count(lit(1)).as("docs"), sum("n_tokens").as("tokens"))
      .orderBy("split").collect()
    val inDocs = corpus.count()
    val outDocs = bySplit.map(_.getLong(1)).sum
    println(s"[curate] $inDocs input docs -> $outDocs curated docs")
    bySplit.foreach(r => println(
      s"[curate]   ${r.getString(0)}: ${r.getLong(1)} docs, ${r.getLong(2)} tokens"))
    println(s"[curate] shards  -> $outDir/shards (partitioned by split, shard)")
    println(s"[curate] manifest-> $outDir/manifest")
  }
}
