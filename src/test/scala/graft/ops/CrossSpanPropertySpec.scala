package graft.ops

import org.apache.spark.sql.Row
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Differential property test for cross-document span removal (d35)
  * and its index face (d36): random small corpora against an O(n²)
  * brute-force restatement of the operator's contract — a code point
  * is cut iff some minLen-window covering it occurs in another
  * document of the same source.
  *
  * Texts are counted in CODE POINTS, as Spark's `length`/`substring`
  * count them, so the reference works over code points too and the
  * corpora mix in non-BMP characters. Each run packs several
  * independent corpora under disjoint source names (the operator is
  * per source), so one Spark pass checks many cases.
  */
class CrossSpanPropertySpec extends AnyFunSuite with SparkSpec {
  import CrossSpanPropertySpec._

  // one run per minLen band, so short and wide windows both occur
  private val runs: Seq[Run] = Gen.sequence[List[Run], Run](
      Seq(Gen.choose(1, 4), Gen.choose(5, 16), Gen.choose(17, 40))
        .map(runGen))
    .pureApply(Gen.Parameters.default, Seed(20261020L))

  private def collectRows(rows: Array[Row]): Map[Long, Out] =
    rows.map(r => r.getLong(0) ->
      Out(r.getString(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap

  private def check(name: String, run: Run, thr: Long,
      got: Map[Long, Out]): Unit = {
    val ref = refCrossRemove(run.docs, run.minLen)
    assert(got.keySet === ref.keySet, s"$name: doc set, ${run.show(thr)}")
    ref.foreach { case (id, want) =>
      assert(got(id) === want,
        s"$name diverged for doc $id: ${run.show(thr)}")
    }
  }

  test("property: crossDocSpanRemoval equals the code-point reference") {
    import spark.implicits._
    runs.foreach { run =>
      val df = run.docs.toDF("doc_id", "text", "source")
      // no giants, then a threshold inside the length range, which
      // sends the longer docs through gatherGrams + cutCoveredGiant
      Seq(1L << 30, run.giantThreshold).foreach { thr =>
        check("crossDocSpanRemoval", run, thr, collectRows(SuffixArray
          .crossDocSpanRemoval(df, "doc_id", "text", "source", run.minLen,
            giantThreshold = thr).collect()))
      }
    }
  }

  test("property: removal from a merged index of a random split equals the reference") {
    import spark.implicits._
    runs.foreach { run =>
      val df = run.docs.toDF("doc_id", "text", "source")
      val (a, b) = run.docs.partition { case (id, _, _) => run.sideA(id) }
      val thr = run.giantThreshold
      def ix(part: Seq[(Long, String, String)]) = SuffixArray.crossSpanIndex(
        part.toDF("doc_id", "text", "source"), "doc_id", "text", "source",
        run.minLen, giantThreshold = thr)
      val merged = SuffixArray.crossSpanIndexMerge(ix(a), ix(b))
      check("crossDocSpanRemovalFromIndex", run, thr, collectRows(SuffixArray
        .crossDocSpanRemovalFromIndex(df, merged, "doc_id", "text",
          "source", run.minLen, giantThreshold = thr).collect()))
    }
  }
}

object CrossSpanPropertySpec {

  case class Out(source: String, nChars: Long, nKept: Long, cleaned: String)

  /** One Spark pass: `docs` holds several independent corpora under
    * disjoint source names; `sideA` is the index face's random
    * disjoint split.
    */
  case class Run(docs: Seq[(Long, String, String)], minLen: Int,
      giantThreshold: Long, sideA: Set[Long]) {
    def show(thr: Long): String =
      s"minLen=$minLen giantThreshold=$thr docs=" +
        docs.map { case (id, t, s) =>
          s"($id, $s, ${Option(t).map(x => "\"" + x + "\"").orNull})"
        }.mkString(", ")
  }

  private val letters = Seq("a", "b", "c", "d")
  private val nonBmp = Seq("\uD83D\uDE00", "\uD835\uDD38") // U+1F600, U+1D538

  private def cpTake(s: String, n: Int): String =
    if (s.codePointCount(0, s.length) <= n) s
    else s.substring(0, s.offsetByCodePoints(0, n))

  /** Texts of 0–300 code points over a 2–4-symbol alphabet, built from
    * random runs and phrases shared within the corpus, so windows of
    * every width in 1–40 recur across documents.
    */
  private def textGen(alphabet: Seq[String], phrases: Seq[String])
      : Gen[String] = {
    val noise = Gen.choose(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(alphabet)).map(_.mkString))
    val segment = Gen.frequency(2 -> noise, 3 -> Gen.oneOf(phrases))
    val built = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, segment))
      .map(ss => cpTake(ss.mkString, 300))
    Gen.frequency(1 -> Gen.const[String](null), 1 -> Gen.const(""),
      8 -> built)
  }

  /** One independent corpus: 1–3 sources, 2–10 documents. */
  private def corpusGen(tag: Int): Gen[Seq[(String, String)]] = for {
    nSymbols <- Gen.choose(2, 4)
    withNonBmp <- Gen.oneOf(false, true)
    alphabet = if (withNonBmp) letters.take(nSymbols - 1) :+ nonBmp(tag % 2)
               else letters.take(nSymbols)
    phrases <- Gen.listOfN(3, Gen.choose(5, 80).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(alphabet)).map(_.mkString)))
    nSources <- Gen.choose(1, 3)
    nDocs <- Gen.choose(2, 10)
    docs <- Gen.listOfN(nDocs, Gen.zip(textGen(alphabet, phrases),
      Gen.choose(0, nSources - 1)))
  } yield docs.map { case (t, s) => (t, s"c$tag-s$s") }

  def runGen(minLenGen: Gen[Int]): Gen[Run] = for {
    nCorpora <- Gen.choose(5, 9)
    corpora <- Gen.sequence[List[Seq[(String, String)]], Seq[(String, String)]](
      (0 until nCorpora).map(corpusGen))
    minLen <- minLenGen
    giantThreshold <- Gen.choose(0L, 200L)
    docs = corpora.flatten.zipWithIndex.map { case ((t, s), i) =>
      (i.toLong + 1, t, s)
    }
    sides <- Gen.listOfN(docs.size, Gen.oneOf(false, true))
  } yield Run(docs, minLen, giantThreshold,
    docs.zip(sides).collect { case ((id, _, _), true) => id }.toSet)

  /** The contract over code points: per non-null doc,
    * (source, n_chars, n_kept_chars, cleaned).
    */
  def refCrossRemove(docs: Seq[(Long, String, String)], minLen: Int)
      : Map[Long, Out] = {
    val live = docs.collect { case (id, t, s) if t != null =>
      (id, t.codePoints().toArray, s)
    }
    def grams(cps: Array[Int]): Set[String] =
      (0 to cps.length - minLen).map(a => new String(cps, a, minLen)).toSet
    val gramSets = live.map { case (id, cps, _) => id -> grams(cps) }.toMap
    live.map { case (id, cps, src) =>
      val witnesses = live.collect {
        case (oid, _, osrc) if oid != id && osrc == src => gramSets(oid)
      }
      val covered = Array.fill(cps.length)(false)
      for (a <- 0 to cps.length - minLen) {
        val g = new String(cps, a, minLen)
        if (witnesses.exists(_.contains(g)))
          for (k <- a until a + minLen) covered(k) = true
      }
      val kept = cps.indices.filterNot(covered(_)).map(cps(_)).toArray
      id -> Out(src, cps.length.toLong, kept.length.toLong,
        new String(kept, 0, kept.length))
    }.toMap
  }
}
