package graft.etl

import java.nio.file.Files
import java.sql.DriverManager

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.sources.{DictionaryLoader, VendorImport}

/** Sidecar flows landing in the RDBMS mirror (the reference's 2nd and
  * 3rd CLI end-states): vendor sheet tables (`vendor_import.py:227-241`,
  * create-if-absent + append) and the dictionary full refresh
  * (`create_definitions.py:54-63`, delete-all + re-insert as a staged
  * atomic replace) — both against embedded Derby.
  */
class SidecarMirrorSpec extends AnyFunSuite with SparkSpec {

  private def cfgFor(db: String) = JdbcMirror.MirrorConfig(
    s"jdbc:derby:memory:$db;create=true", dialect = JdbcMirror.DerbyDialect)

  private def query1[T](url: String, sql: String)(f: java.sql.ResultSet => T): T = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      rs.next(); f(rs)
    } finally conn.close()
  }

  test("vendor sheet lands as {source}_{sheet} with verbatim spaced columns; re-import appends") {
    val cfg = cfgFor("sidecar_vendor")
    val dir = Files.createTempDirectory("graft_vendor_mirror")
    Files.writeString(dir.resolve("Cause of Injury (eInjury.01).csv"),
      """Code,Value,Label,Sort Order,Resource Type
        |I1,7,fall,1,injury
        |I2,9,burn,2,injury""".stripMargin)
    val provider = new VendorImport.CsvDirProvider(spark, dir.toString)
    val tables = VendorImport.importVendor(provider, "imagetrend",
      Map("Cause of Injury (eInjury.01)" ->
        VendorImport.ImagetrendSpec("Cause of Injury (eInjury.01)")))
    JdbcMirror.mirrorSidecar(tables, cfg)

    val t = """"APP"."imagetrend_cause_of_injury_(einjury_01)""""
    assert(query1(cfg.url, s"SELECT count(*) FROM $t")(_.getInt(1)) == 2)
    // Excel header names survive verbatim, spaces included (the
    // reference quotes them in its DDL the same way)
    assert(query1(cfg.url,
      s"""SELECT "Sort Order" FROM $t WHERE "Code" = 'I2'""")(_.getString(1)) == "2")

    // append-only like the reference: a second import accumulates
    JdbcMirror.mirrorSidecar(tables, cfg)
    assert(query1(cfg.url, s"SELECT count(*) FROM $t")(_.getInt(1)) == 4)
  }

  test("dictionary full refresh replaces rows atomically; second refresh does not accumulate") {
    val cfg = cfgFor("sidecar_dict")
    val dir = Files.createTempDirectory("graft_dict_mirror")
    val v1 = dir.resolve("enum_v1.txt")
    Files.writeString(v1,
      """DatasetName|ElementNumber|ElementName|Code|CodeDescription
        |EMSDataSet|eVitals.01|SBP|9924001|Systolic
        |EMSDataSet|eVitals.02|DBP|9924003|Diastolic""".stripMargin)
    val df1 = DictionaryLoader.projectTo(
      DictionaryLoader.readPipeCsv(spark, v1.toString),
      DictionaryLoader.ElementDefinitionsColumns)
    JdbcMirror.fullRefreshTable(df1, "ElementDefinitions", cfg)
    assert(query1(cfg.url,
      "SELECT count(*) FROM APP.ElementDefinitions")(_.getInt(1)) == 2)

    // refreshed dictionary: one row dropped, one changed — the second
    // refresh REPLACES (reference DELETE-all + insert), never appends
    val v2 = dir.resolve("enum_v2.txt")
    Files.writeString(v2,
      """DatasetName|ElementNumber|ElementName|Code|CodeDescription
        |EMSDataSet|eVitals.01|SBP|9924001|Systolic Blood Pressure""".stripMargin)
    val df2 = DictionaryLoader.projectTo(
      DictionaryLoader.readPipeCsv(spark, v2.toString),
      DictionaryLoader.ElementDefinitionsColumns)
    JdbcMirror.fullRefreshTable(df2, "ElementDefinitions", cfg)
    assert(query1(cfg.url,
      "SELECT count(*) FROM APP.ElementDefinitions")(_.getInt(1)) == 1)
    assert(query1(cfg.url,
      "SELECT CodeDescription FROM APP.ElementDefinitions")(_.getString(1))
      == "Systolic Blood Pressure")
    // no staging leftovers
    val conn = DriverManager.getConnection(cfg.url)
    try {
      val rs = conn.getMetaData.getTables(null, "APP", "%", null)
      val names = Iterator.continually(rs).takeWhile(_.next()).map(_.getString("TABLE_NAME")).toList
      assert(!names.exists(_.toLowerCase.contains("_stg_")), names.toString)
    } finally conn.close()
  }

  test("full refresh refuses non-plain identifiers (unquoted-DDL contract)") {
    import spark.implicits._
    val cfg = cfgFor("sidecar_badident")
    val bad = Seq(("x")).toDF("bad col")
    intercept[IllegalArgumentException] {
      JdbcMirror.fullRefreshTable(bad, "ElementDefinitions", cfg)
    }
    intercept[IllegalArgumentException] {
      JdbcMirror.fullRefreshTable(Seq("x").toDF("c"), "bad table", cfg)
    }
  }

  test("projectTo restores missing headers as empty strings (reference row.get contract)") {
    import spark.implicits._
    val partial = Seq(("EMSDataSet", "eVitals.01")).toDF("DatasetName", "ElementNumber")
    val out = DictionaryLoader.projectTo(partial, DictionaryLoader.ElementDefinitionsColumns)
    assert(out.columns.toSeq == DictionaryLoader.ElementDefinitionsColumns)
    val r = out.head()
    assert(r.getString(0) == "EMSDataSet" && r.getString(2) == "" && r.getString(4) == "")
  }

  test("CLI arg parse is strict: unknown, value-less, duplicate keys all fail") {
    import graft.Cli.{Args, parse}
    val keys = Set("-file_path", "-vendor", "-source")
    def kv(args: String*) = parse(args, "u", 0 to 0, keys).values
    assert(kv("-vendor", "imagetrend", "-source", "s1")
      == Map("-vendor" -> "imagetrend", "-source" -> "s1"))
    intercept[IllegalArgumentException](kv("--nope", "x"))
    intercept[IllegalArgumentException](kv("-vendor"))
    intercept[IllegalArgumentException](kv("-vendor", "a", "-vendor", "b"))
    // a value key takes the next argument even when it starts with '-'
    assert(kv("-source", "-x") == Map("-source" -> "-x"))
    // a positional where the command takes none
    intercept[IllegalArgumentException](kv("stray"))
    // positionals, value keys and boolean flags mix in any order
    def withPos(args: String*) =
      parse(args, "u", 1 to 2, keys, flagKeys = Set("--sort"))
    assert(withPos("--sort", "lake", "-vendor", "v", "10")
      == Args(Seq("lake", "10"), Map("-vendor" -> "v"), Set("--sort")))
    assert(withPos("lake") == Args(Seq("lake"), Map.empty, Set.empty))
    intercept[IllegalArgumentException](withPos())
    intercept[IllegalArgumentException](withPos("a", "b", "c"))
    intercept[IllegalArgumentException](withPos("--sort", "lake", "--sort"))
    intercept[IllegalArgumentException](withPos("lake", "--sort-by"))
    assert(graft.VendorImportMain.dialectFor("jdbc:derby:memory:x") == JdbcMirror.DerbyDialect)
    assert(graft.VendorImportMain.dialectFor("jdbc:postgresql://h/db") == JdbcMirror.PostgresDialect)
  }

  test("JDBC connection resolution: --jdbc-url wins, env is the fallback, neither is None") {
    import graft.VendorImportMain.resolveJdbc
    val env = Map("GRAFT_JDBC_URL" -> "jdbc:derby:memory:fromenv",
      "GRAFT_JDBC_SCHEMA" -> "ENVSCHEMA")
    // explicit flag beats env, flag schema beats env schema
    val explicit = resolveJdbc(
      Map("--jdbc-url" -> "jdbc:postgresql://h/db", "--jdbc-schema" -> "argschema"), env).get
    assert(explicit.url == "jdbc:postgresql://h/db" && explicit.schema == "argschema")
    // env-only: reference parity (database_setup.py reads env, no flags)
    val fromEnv = resolveJdbc(Map.empty, env).get
    assert(fromEnv.url == "jdbc:derby:memory:fromenv" && fromEnv.schema == "ENVSCHEMA")
    assert(fromEnv.dialect == JdbcMirror.DerbyDialect)
    // flag url + env schema: each key resolves independently
    val mixed = resolveJdbc(Map("--jdbc-url" -> "jdbc:postgresql://h/db"), env).get
    assert(mixed.schema == "ENVSCHEMA")
    // dialect default schema when nothing names one
    val bare = resolveJdbc(Map("--jdbc-url" -> "jdbc:derby:memory:x"), Map.empty).get
    assert(bare.schema == "APP")
    assert(resolveJdbc(Map.empty, Map.empty).isEmpty)
  }
}
