package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/** One generated document. */
final case class Doc(doc_id: Long, text: String, source: String)

/** What the corpus generator planted. */
final class CorpusModel {
  val docs = mutable.ArrayBuffer.empty[Doc]
  val bench = mutable.ArrayBuffer.empty[Doc]
  /** sets of ids whose texts are equal after lower-casing and trimming */
  val exactSets = mutable.ArrayBuffer.empty[Seq[Long]]
  /** ids whose text is a benchmark text */
  val contaminated = mutable.Set.empty[Long]
  /** ids planted to fail the quality gate */
  val lowQuality = mutable.Set.empty[Long]
}

/** Seeded synthetic training corpus. Words come from a seeded vocabulary of
  * 3000 letter strings, so unrelated documents share few bigrams, plus the
  * stopwords the quality gate counts. Ordinary documents are drawn until
  * they pass every `TextAnalysis.qualityRules` rule, so that the planted
  * cases are what the stages remove: exact-duplicate sets (copies that
  * differ only in case or surrounding space), near copies (two words
  * changed), verbatim copies of benchmark texts, and short documents.
  */
final class CorpusGen(seed: Long) {
  private val rng = new SplittableRandom(seed)
  private val vocab: Array[String] = Array.fill(3000) {
    val n = 3 + rng.nextInt(4) + (if (rng.nextInt(5) == 0) 1 else 0)
    (0 until n).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
  }
  private val stop = Array("the", "of", "and", "is", "a")

  private def occurrences(s: String, needle: String): Int =
    (s.length - s.replace(needle, "").length) / needle.length

  /** The quality gate's rules, restated on plain strings. */
  def passesQuality(text: String): Boolean = {
    val words = occurrences(text, " ") + 1
    val meanLen = (text.length - words + 1).toDouble / words
    val padded = s" $text "
    val hits = Seq(" the ", " a ", " of ", " and ", " is ").map(occurrences(padded, _)).sum
    words >= 25 && words <= 90 && meanLen >= 4.3 && meanLen <= 4.7 && hits * 100 >= words * 3
  }

  private def words(n: Int): Seq[String] =
    Seq.fill(n)(if (rng.nextInt(10) == 0) stop(rng.nextInt(stop.length)) else vocab(rng.nextInt(vocab.length)))

  def goodText(): String =
    Iterator.continually(words(30 + rng.nextInt(45)).mkString(" ")).find(passesQuality).get

  /** Planted duplicates and near copies go to sources other than `src0`,
    * the slice the repeat search reads: whole-document copies there would
    * make the search's doubling loop run to the document length.
    */
  def generate(nDocs: Int, nSources: Int, nBench: Int): CorpusModel = {
    val m = new CorpusModel
    var next = 0L
    def add(text: String, src: String): Long = { val id = next; next += 1; m.docs += Doc(id, text, src); id }
    def src(): String = s"src${1 + rng.nextInt(nSources - 1)}"
    (0 until nBench).foreach(i => m.bench += Doc(1000000L + i, goodText(), "bench"))
    val nExact = nDocs / 25
    val nNear = nDocs / 25
    val nContam = math.min(nBench / 2, nDocs / 30)
    val nShort = nDocs / 30
    (0 until nExact).foreach { _ =>
      val t = goodText(); val s = src()
      m.exactSets += Seq(add(t, s), add(t.toUpperCase, s), add(s" $t ", src()))
    }
    (0 until nNear).foreach { _ =>
      val t = goodText(); val s = src()
      val w = t.split(' ')
      val i = rng.nextInt(w.length)
      w(i) = vocab(rng.nextInt(vocab.length))
      val j = rng.nextInt(w.length)
      w(j) = vocab(rng.nextInt(vocab.length))
      add(t, s)
      add(w.mkString(" "), s)
    }
    (0 until nContam).foreach(i => m.contaminated += add(m.bench(i).text, src()))
    (0 until nShort).foreach(_ => m.lowQuality += add(words(8 + rng.nextInt(8)).mkString(" "), src()))
    while (next < nDocs) add(goodText(), s"src${rng.nextInt(nSources)}")
    m
  }
}
