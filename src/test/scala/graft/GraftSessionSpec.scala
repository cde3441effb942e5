package graft

import org.scalatest.funsuite.AnyFunSuite

/** The conf every main and spec runs under: pinned here, so a change to
  * it is a visible test edit.
  */
class GraftSessionSpec extends AnyFunSuite with SparkSpec {

  test("the spec session runs the production conf at 2 threads") {
    assert(spark.sparkContext.master == "local[2]")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8000")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "2")
    assert(spark.conf.get("spark.cleaner.referenceTracking.blocking.shuffle") == "true")
    // AQE is Spark's default, not a graft setting
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("shuffle partitions are min(cpus, 8); a launcher's spark.master wins") {
    def conf(cpus: Int, master: Option[String] = None) =
      GraftSession.conf(cpus, master).toMap
    assert(Seq(2, 4, 32).map(conf(_)("spark.sql.shuffle.partitions"))
      == Seq("2", "4", "8"))
    assert(conf(32)("spark.master") == "local[32]")
    assert(conf(32, Some("spark://h:7077"))("spark.master") == "spark://h:7077")
    assert(!conf(4).contains("spark.sql.adaptive.enabled"))
  }
}
