package graft

import java.io.File

import graft.etl.JdbcMirror
import graft.sources.{VendorImport, XlsxSheetProvider}

/** Vendor code-book import CLI — the reference's argparse surface
  * (`vendor_import.py:201-210`: `-file_path`, `-vendor`, `-source`)
  * plus an explicit JDBC target (the reference takes its connection
  * from the environment, `database_setup.py:18`):
  *
  * {{{
  * runMain graft.VendorImportMain -file_path <xlsx-or-csv-dir>
  *   -vendor imagetrend -source <source>
  *   [--jdbc-url <url>] [--jdbc-schema <schema>]
  * }}}
  *
  * `-file_path` may be a real `.xlsx` workbook (JDK zip+StAX decode) or
  * a directory of `<sheet>.csv` staging files. The JDBC target resolves
  * `--jdbc-url` first, then `GRAFT_JDBC_URL` from the environment
  * (reference parity — it configures entirely via env,
  * `database_setup.py:18-41`); with neither, the cleaned tables are
  * materialized and counted but not landed (an explicit "dry-run" per
  * table, never a silent no-op). Strict parse: unknown or value-less
  * arguments fail loudly.
  */
object VendorImportMain {

  private val usage =
    "usage: VendorImportMain -file_path <xlsx-or-csv-dir> -vendor <vendor> " +
      "-source <source> [--jdbc-url <url>] [--jdbc-schema <schema>]"

  private[graft] def dialectFor(url: String): JdbcMirror.SqlDialect =
    if (url.startsWith("jdbc:derby")) JdbcMirror.DerbyDialect
    else JdbcMirror.PostgresDialect

  /** Connection resolution shared by the sidecar CLIs. The reference
    * takes its DB connection entirely from the environment
    * (`database_setup.py:18-41`, `config.py:10-19`); parity here means
    * a user scripting that workflow needs no flags: an explicit
    * `--jdbc-url` wins, else `GRAFT_JDBC_URL`. Schema precedence:
    * `--jdbc-schema`, else `GRAFT_JDBC_SCHEMA`, else the dialect
    * default. `env` is a parameter so the precedence is spec-testable.
    */
  private[graft] def resolveJdbc(kv: Map[String, String],
      env: Map[String, String] = sys.env): Option[JdbcMirror.MirrorConfig] =
    kv.get("--jdbc-url").orElse(env.get("GRAFT_JDBC_URL")).map { url =>
      val dialect = dialectFor(url)
      val schema = kv.get("--jdbc-schema").orElse(env.get("GRAFT_JDBC_SCHEMA"))
        .getOrElse(if (dialect == JdbcMirror.DerbyDialect) "APP" else "public")
      JdbcMirror.MirrorConfig(url, schema = schema, dialect = dialect)
    }

  def main(args: Array[String]): Unit = {
    val kv = Cli.parse(args, usage, positional = 0 to 0, valueKeys =
      Set("-file_path", "-vendor", "-source", "--jdbc-url", "--jdbc-schema")).values
    val filePath = kv.getOrElse("-file_path", sys.error(s"-file_path is required\n$usage"))
    val vendor = kv.getOrElse("-vendor", sys.error(s"-vendor is required\n$usage"))
    val source = kv.getOrElse("-source", sys.error(s"-source is required\n$usage"))
    // reference parity: a missing workbook is FileNotFoundError before
    // any DB work (vendor_import.py:213-214)
    val f = new File(filePath)
    require(f.exists(), s"Excel file not found: $filePath")

    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val provider =
        if (f.isDirectory) new VendorImport.CsvDirProvider(spark, filePath)
        else new XlsxSheetProvider(spark, filePath)
      val tables = VendorImport.importVendorByName(provider, vendor, source)
      resolveJdbc(kv) match {
        case Some(cfg) =>
          JdbcMirror.mirrorSidecar(tables, cfg)
          tables.foreach { case (t, df) =>
            println(s"mirrored $t: ${df.count()} rows")
          }
        case None =>
          tables.foreach { case (t, df) => println(s"dry-run $t: ${df.count()} rows") }
      }
      println(s"import complete: ${tables.size} sheets")
    } finally spark.stop()
  }
}
