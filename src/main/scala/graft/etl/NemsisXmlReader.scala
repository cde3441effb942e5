package graft.etl

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Distributed XML scan (SURVEY A1/A9): `binaryFile` source -> one parse
  * task per file -> tall element-record DataFrame.
  *
  * Scale design: at 100 TB the unit of parallelism is the file — each of
  * N executors pulls whole files (binaryFile splits by file) and runs the
  * bounded-memory StAX flattener; no shuffle is involved in the parse
  * stage at all. File md5 (the reference's audit fingerprint,
  * `main_ingest.py:39-50`) is computed on the same pass over the bytes.
  */
object NemsisXmlReader {

  def md5Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString

  /** Read every XML file under `path` (glob ok) into the tall element
    * DataFrame — one row per XML element, schema = ElementRecord.
    * Files that fail to parse contribute zero rows; the ingest
    * ([[IngestPipeline.ingestDirectory]]) routes them to the error flow
    * from the same parse pass.
    */
  def readTall(
      spark: SparkSession,
      path: String,
      idGen: XmlFlatten.IdGen = XmlFlatten.DeterministicId): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select("path", "content")
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        XmlFlatten.parse(bytes, p, md5Hex(bytes), idGen)
      }
      .toDF()
  }
}
