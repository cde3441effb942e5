package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local SparkSession for specs: the production conf
  * ([[GraftSession]]) at 2 threads, plus a temp warehouse dir. */
trait SparkSpec extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(cpus = 2)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
