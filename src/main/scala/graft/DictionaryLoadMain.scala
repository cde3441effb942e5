package graft

import java.nio.file.{Files, Paths}

import graft.etl.JdbcMirror
import graft.sources.DictionaryLoader

/** Dictionary-refresh CLI — the reference's `create_definitions.py`
  * end-state (fetch two pipe-delimited NEMSIS dictionaries, create
  * `ElementDefinitions` / `FieldDefinitions` if absent, replace their
  * rows — `create_definitions.py:123-137`) with explicit sources and
  * sinks:
  *
  * {{{
  * runMain graft.DictionaryLoadMain
  *   [--element-src <url-or-path>] [--field-src <url-or-path>]
  *   [--landing-dir <dir>]                 (required for http(s) sources)
  *   [--jdbc-url <url>] [--jdbc-schema <schema>]
  *   [--parquet-out <dir>]
  * }}}
  *
  * Sources default to the reference's published NEMSIS URLs
  * (`create_definitions.py:5-6`); a local path skips the fetch (this
  * environment is zero-egress). The JDBC sink resolves `--jdbc-url`
  * first, then `GRAFT_JDBC_URL` / `GRAFT_JDBC_SCHEMA` from the
  * environment (reference parity, `database_setup.py:18-41`). At least
  * one sink (JDBC or `--parquet-out`) is required — a refresh with
  * nowhere to land is a misconfiguration, not a no-op. The JDBC refresh
  * is the staged atomic replace of
  * [[graft.etl.JdbcMirror.fullRefreshTable]].
  */
object DictionaryLoadMain {

  /** `create_definitions.py:5-6`, the published dictionary endpoints. */
  val DefaultElementUrl: String =
    "https://nemsis.org/media/nemsis_v3/release-3.5.1/DataDictionary/Ancillary/DEMEMS/Combined_ElementEnumerations.txt"
  val DefaultFieldUrl: String =
    "https://nemsis.org/media/nemsis_v3/release-3.5.1/DataDictionary/Ancillary/DEMEMS/Combined_ElementAttributes.txt"

  private val usage =
    "usage: DictionaryLoadMain [--element-src <url-or-path>] [--field-src <url-or-path>] " +
      "[--landing-dir <dir>] [--jdbc-url <url>] [--jdbc-schema <schema>] [--parquet-out <dir>]"

  def main(args: Array[String]): Unit = {
    val kv = Cli.parse(args, usage, positional = 0 to 0, valueKeys = Set(
      "--element-src", "--field-src", "--landing-dir", "--jdbc-url",
      "--jdbc-schema", "--parquet-out")).values
    // --jdbc-url, else GRAFT_JDBC_URL (reference parity: it reads the
    // connection from the environment); a refresh still needs SOME sink
    val jdbcCfg = VendorImportMain.resolveJdbc(kv)
    val parquetOut = kv.get("--parquet-out")
    require(jdbcCfg.nonEmpty || parquetOut.nonEmpty,
      "at least one sink (--jdbc-url / GRAFT_JDBC_URL / --parquet-out) " +
        s"is required\n$usage")
    val specs = Seq(
      ("ElementDefinitions", kv.getOrElse("--element-src", DefaultElementUrl),
        DictionaryLoader.ElementDefinitionsColumns),
      ("FieldDefinitions", kv.getOrElse("--field-src", DefaultFieldUrl),
        DictionaryLoader.FieldDefinitionsColumns))
    val isHttp = (s: String) => s.startsWith("http://") || s.startsWith("https://")
    require(!specs.exists(s => isHttp(s._2)) || kv.contains("--landing-dir"),
      s"--landing-dir is required when a source is an http(s) URL\n$usage")

    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val fetcher = new DictionaryLoader.HttpFetcher()
      specs.foreach { case (table, src, cols) =>
        val path =
          if (isHttp(src)) {
            val dir = Paths.get(kv("--landing-dir"))
            Files.createDirectories(dir)
            fetcher.fetchToFile(src, dir.resolve(s"$table.txt")).toString
          } else src
        val df = DictionaryLoader.projectTo(
          DictionaryLoader.readPipeCsv(spark, path), cols)
        jdbcCfg.foreach(cfg => JdbcMirror.fullRefreshTable(df, table, cfg))
        parquetOut.foreach(out => DictionaryLoader.fullRefresh(df, s"$out/$table"))
        println(s"refreshed $table: ${df.count()} rows")
      }
    } finally spark.stop()
  }
}
