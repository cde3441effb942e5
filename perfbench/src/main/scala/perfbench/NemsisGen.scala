package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable

/** What the generator wrote, kept independently of the program so the
  * checks compare the program's output against it.
  *
  * Tag names are stored sanitized the way the lake stores them (dots to
  * underscores, case kept); attribute keys are stored lowercased, the way
  * the wide views and the mirror name their columns.
  */
final class XmlModel {
  val elementsPerTag = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val attrKeys = mutable.Map.empty[String, mutable.Set[String]]
  val edges = mutable.Set.empty[(String, String)]
  val numericSums = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** PCR UUID -> its current version */
  val pcrVersion = mutable.Map.empty[String, Int]
  /** PCR UUID -> elements carrying its PCR context in its current version */
  val pcrElements = mutable.Map.empty[String, Int]
  /** file name -> number of elements it holds (0 for a malformed file) */
  val fileElements = mutable.LinkedHashMap.empty[String, Int]
  /** lowercased attribute key -> elements written with it */
  val attrUses = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var xmlBytes = 0L

  def tables: Set[String] = elementsPerTag.keySet.toSet
}

/** Seeded synthetic NEMSIS 3.x-shaped XML: EMSDataSet / Header /
  * PatientCareReport with record, response (with a nested agency group),
  * times, patient, repeated vitals groups holding nested blood-pressure
  * groups, and a narrative. Repeated groups carry `CorrelationID`, some
  * leaves carry `NV` or `PN`, and one tag, `eVitals.06`, is also written
  * as `EVitals.06`. The tag set is kept to 21 tags: the program's cost per
  * load grows with the number of tags (one view, one mirror table and one
  * foreign key each), and a run has to fit a short time budget.
  */
final class NemsisGen(seed: Long) {
  private val rng = new SplittableRandom(seed)
  private val words = Array("patient", "found", "supine", "alert", "oriented", "pain", "chest",
    "denies", "history", "transport", "stable", "vitals", "monitor", "oxygen", "given",
    "route", "scene", "family", "reports", "onset", "sudden", "mild", "severe", "left", "arm")

  private def uuid(): String = new java.util.UUID(rng.nextLong(), rng.nextLong()).toString

  def newPcrIds(n: Int): Seq[String] = Seq.fill(n)(uuid())

  /** Writes one file holding `pcrs` (uuid, version) and records it in `model`.
    * `extraAttr` puts one more attribute on every `eVitals.10`.
    */
  def writeFile(dir: Path, name: String, pcrs: Seq[(String, Int)], model: XmlModel,
      extraAttr: Option[(String, String)] = None): Long = {
    val w = new Writer(model)
    w.sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    w.open("EMSDataSet", Seq("xmlns" -> "http://www.nemsis.org"), raw = true)
    w.open("Header")
    pcrs.foreach { case (id, version) => pcr(w, id, version, extraAttr) }
    w.close()
    w.close()
    val bytes = w.sb.toString.getBytes(UTF_8)
    Files.write(dir.resolve(name), bytes)
    model.fileElements(name) = w.count
    model.xmlBytes += bytes.length
    bytes.length
  }

  /** A truncated document: the parser fails on it and ingest must quarantine it. */
  def writeMalformed(dir: Path, name: String, model: XmlModel): Long = {
    val s = "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<EMSDataSet xmlns=\"http://www.nemsis.org\">" +
      "<Header><PatientCareReport UUID=\"" + uuid() + "\"><eRecord><eRecord.01>"
    val bytes = s.getBytes(UTF_8)
    Files.write(dir.resolve(name), bytes)
    model.fileElements(name) = 0
    model.xmlBytes += bytes.length
    bytes.length
  }

  private def pcr(w: Writer, id: String, version: Int, extraAttr: Option[(String, String)]): Unit = {
    w.pcrStart()
    w.open("PatientCareReport", Seq("UUID" -> id))
    w.open("eRecord")
    w.leaf("eRecord.04", s"v$version", Seq("CorrelationID" -> s"rec-${id.take(8)}"))
    w.close()
    w.open("eResponse")
    w.open("eResponse.AgencyGroup")
    w.leaf("eResponse.01", s"S${rng.nextInt(90) + 10}")
    w.close()
    w.close()
    w.open("eTimes")
    w.leaf("eTimes.01", f"2024-0${rng.nextInt(9) + 1}-1${rng.nextInt(9)}T0${rng.nextInt(9)}:${rng.nextInt(50) + 10}:00Z")
    w.close()
    w.open("ePatient")
    w.numeric("ePatient.15", 1 + rng.nextInt(95))
    if (rng.nextInt(3) == 0) w.leaf("ePatient.13", "", Seq("NV" -> "7701003"))
    else w.leaf("ePatient.13", s"${9906001 + rng.nextInt(3)}")
    w.close()
    w.open("eVitals")
    val groups = 1 + rng.nextInt(5)
    (0 until groups).foreach { g =>
      w.open("eVitals.VitalGroup", Seq("CorrelationID" -> s"vg-$g"))
      w.open("eVitals.BloodPressureGroup")
      // one tag in two spellings that differ only in case
      w.numeric(if (rng.nextInt(4) == 0) "EVitals.06" else "eVitals.06", 90 + rng.nextInt(80))
      w.close()
      val hrAttrs = (if (rng.nextInt(4) == 0) Seq("PN" -> "8801019") else Seq.empty) ++ extraAttr
      w.numeric("eVitals.10", 40 + rng.nextInt(120), hrAttrs)
      w.close()
    }
    w.close()
    w.open("eNarrative")
    val n = 8 + rng.nextInt(30)
    w.leaf("eNarrative.01", Seq.fill(n)(words(rng.nextInt(words.length))).mkString(" ") + " & done")
    w.close()
    w.close()
    w.pcrEnd(id, version)
  }

  /** Serializes elements and records every one of them in the model. */
  private final class Writer(model: XmlModel) {
    val sb = new StringBuilder
    private var stack = List.empty[(String, String)] // (raw tag, sanitized tag)
    var count = 0
    private var inPcr = 0

    private def sanitize(tag: String) = tag.replace('.', '_')

    private def start(tag: String, attrs: Seq[(String, String)], raw: Boolean): String = {
      val t = sanitize(tag)
      count += 1
      if (inPcr > 0) inPcr += 1
      model.elementsPerTag(t) += 1
      stack.headOption.foreach { case (_, parent) => model.edges += ((t, parent)) }
      val keys = model.attrKeys.getOrElseUpdate(t.toLowerCase, mutable.Set.empty)
      if (!raw) attrs.foreach { case (k, _) => keys += k.toLowerCase; model.attrUses(k.toLowerCase) += 1 }
      sb.append('<').append(tag)
      attrs.foreach { case (k, v) => sb.append(' ').append(k).append("=\"").append(esc(v)).append('"') }
      t
    }

    def open(tag: String, attrs: Seq[(String, String)] = Seq.empty, raw: Boolean = false): Unit = {
      val t = start(tag, attrs, raw)
      sb.append(">\n")
      stack = (tag, t) :: stack
    }

    def close(): Unit = {
      sb.append("</").append(stack.head._1).append(">\n")
      stack = stack.tail
    }

    def leaf(tag: String, text: String, attrs: Seq[(String, String)] = Seq.empty): Unit = {
      start(tag, attrs, raw = false)
      if (text.isEmpty) sb.append("/>\n")
      else sb.append('>').append(esc(text)).append("</").append(tag).append(">\n")
    }

    def numeric(tag: String, v: Int, attrs: Seq[(String, String)] = Seq.empty): Unit = {
      leaf(tag, v.toString, attrs)
      model.numericSums(sanitize(tag)) += v
    }

    def pcrStart(): Unit = inPcr = 1
    def pcrEnd(id: String, version: Int): Unit = {
      model.pcrVersion(id) = version
      model.pcrElements(id) = inPcr - 1
      inPcr = 0
    }

    private def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace("\"", "&quot;")
  }
}
