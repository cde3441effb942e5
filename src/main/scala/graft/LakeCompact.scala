package graft

/** Lake-maintenance CLI: `runMain graft.LakeCompact <lakeDir>
  * [targetRowsPerFile] [--sort-by-pcr]` — compacts the element lake's
  * small files (see graft.etl.LakeMaintenance) and prints the
  * before/after file counts.
  */
object LakeCompact {
  def main(args: Array[String]): Unit = {
    val usage = "usage: LakeCompact <lakeDir> [targetRowsPerFile] [--sort-by-pcr]"
    val a = Cli.parse(args, usage, positional = 1 to 2,
      flagKeys = Set("--sort-by-pcr"))
    val lakeDir = a.positional(0)
    val target = a.positional.lift(1).map(_.toLong).getOrElse(1000000L)
    val sortByPcr = a.flags("--sort-by-pcr")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = graft.etl.LakeMaintenance.compactElements(spark, lakeDir, target, sortByPcr)
    println(s"compacted: files ${r.filesBefore} -> ${r.filesAfter}, rows ${r.rows}")
    spark.stop()
  }
}
