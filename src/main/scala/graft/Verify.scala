package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Queries run from a small thread pool: Spark's scheduler accepts
    // concurrent job submission, and most of these queries are too small
    // to fill local[cpus] alone — 4-way submission roughly halves the
    // dump's wall time. Errors are captured per query, never swallowed.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt)
    // VERIFY_ONLY=t12_bpe_merges,t13_bpe_encode dumps a subset — the
    // iteration aid mirroring Bench's BENCH_ONLY. The full
    // oracle_sql.json is still written, so scripts/check.py must be
    // pointed at the same subset when used.
    val queries = SparkEntry.queries
    val selected = Cli.envSubset("VERIFY_ONLY", queries.keys.toSeq)
    val tasks = selected.map { name =>
      val fn = queries(name)
      pool.submit(new Runnable {
        override def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    // shutdownNow on failure: a fatal task error (OOM) must kill the
    // queued work AND the non-daemon workers, so the JVM dies visibly
    // instead of grinding through the remaining queries on a poisoned
    // heap (or hanging on live pool threads)
    try { tasks.foreach(_.get()); pool.shutdown() }
    catch { case t: Throwable => pool.shutdownNow(); throw t }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle SQL may reference run-dependent paths (j01's corpus dir is
    // keyed by the SF basename) — substitute before dumping, so the
    // DuckDB compare always reads what THIS run wrote
    val sfBase = java.nio.file.Paths.get(sfDir).getFileName.toString
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace(graft.queries.JsonlQueries.SfBaseToken, sfBase))}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
