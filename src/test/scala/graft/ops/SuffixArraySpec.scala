package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Suffix-array family (d30/d31): prefix-doubling ranks vs the
  * sort-the-suffixes definition on adversarial shapes (small alphabets
  * force ties deep into the doubling), LRS vs a brute-force reference,
  * and the in-place LCP expression.
  */
class SuffixArraySpec extends AnyFunSuite with SparkSpec {

  import testImplicits._
  private lazy val testImplicits = spark.implicits

  private def refRanks(s: String): Map[Int, Long] = {
    val order = (1 to s.length).sortBy(p => s.substring(p - 1))
    order.zipWithIndex.map { case (p, i) => p -> (i + 1).toLong }.toMap
  }

  private def refLrs(s: String): (Long, String) = {
    val subs = for {
      len <- (s.length - 1) to 1 by -1
      i <- 0 to s.length - len
      sub = s.substring(i, i + len)
      if s.indexOf(sub, i + 1) >= 0
    } yield sub
    subs.headOption match {
      case Some(first) =>
        val len = first.length
        val best = subs.takeWhile(_.length == len).min
        (len.toLong, best)
      case None => (0L, "")
    }
  }

  // small alphabets force rank ties for many doubling rounds; the
  // run-heavy shapes exercise the -1 sentinel (proper prefixes)
  private val rnd = new scala.util.Random(20260815)
  private val corpus: Seq[(Long, String)] =
    Seq("a", "ab", "ba", "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
      "abababababababab", "mississippi", "banana",
      "the quick brown fox the quick brown cat").zipWithIndex
      .map { case (s, i) => (i.toLong, s) } ++
      (100 until 140).map { i =>
        val n = 1 + rnd.nextInt(60)
        (i.toLong, (0 until n).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
      }

  test("prefix-doubling ranks equal the sort-the-suffixes definition") {
    val got = SuffixArray
      .suffixRanks(corpus.toDF("doc_id", "text"), "doc_id", "text")
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.map(r => r.getInt(1) -> r.getLong(2)).toMap }
    corpus.foreach { case (id, s) =>
      assert(got(id) === refRanks(s), s"ranks diverged for '$s'")
    }
  }

  test("longest repeated substring equals brute force (incl. ('',0) docs)") {
    val got = SuffixArray
      .longestRepeatedSubstring(corpus.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    corpus.foreach { case (id, s) =>
      assert(got(id) === refLrs(s), s"LRS diverged for '$s'")
    }
  }

  test("lcp_at scans in place: bounds, identity, and mismatch-at-k") {
    val rows = Seq(("banana", 2, 4), ("banana", 1, 1), ("banana", 6, 7),
        ("aaaa", 1, 2), ("ab", 2, 1))
      .toDF("t", "i", "j")
      .select(graft.functions.TextHashExpressions
        .lcp_at(col("t"), col("i"), col("j")).as("l"))
      .collect().map(_.getInt(0)).toSeq
    // ("anana","ana")->3; self->6; j past end->0; ("aaaa","aaa")->3; ("b","ab")->0
    assert(rows === Seq(3, 6, 0, 3, 0))
  }

  /** Brute cross-doc reference: all substrings of the sentinel-joined
    * concatenation occurring at two positions owned by different docs.
    */
  private def refCross(docs: Seq[(Long, String)]): (Long, String) = {
    val sorted = docs.sortBy(_._1)
    val t = sorted.map(_._2).mkString("")
    val owner = sorted.zipWithIndex.flatMap { case ((_, s), di) =>
      s.map(_ => di) :+ -1 // sentinel owner -1
    }.dropRight(1)
    val cands = for {
      len <- t.length to 1 by -1
      i <- 0 to t.length - len
      j <- (i + 1) to t.length - len
      if owner(i) >= 0 && owner(j) >= 0 && owner(i) != owner(j)
      if t.regionMatches(i, t, j, len)
    } yield t.substring(i, i + len)
    cands.headOption match {
      case Some(first) =>
        (first.length.toLong, cands.takeWhile(_.length == first.length).min)
      case None => (0L, "")
    }
  }

  test("cross-doc repeats equal brute force over the sentinel-joined concatenation") {
    val groups: Seq[(String, Seq[(Long, String)])] = Seq(
      "g1" -> Seq((1L, "xxSHARED BOILERPLATE yy"), (2L, "zz SHARED BOILERPLATE ww"),
        (3L, "nothing in common")),
      "g2" -> Seq((10L, "abcabcabc"), (11L, "qqq")), // within-doc repeat only
      "g3" -> Seq((20L, "solo document")),           // no pairs at all
      "g4" -> Seq((30L, "tail end"), (31L, "tail end")) // full-doc duplicate
    )
    val df = groups.flatMap { case (g, ds) => ds.map(d => (d._1, d._2, g)) }
      .toDF("doc_id", "text", "source")
    val got = SuffixArray.crossDocRepeats(df, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    groups.foreach { case (g, ds) =>
      assert(got(g) === refCross(ds), s"cross-doc diverged for $g")
    }
  }

  test("wide (giant-group) rank path matches the window path bit for bit") {
    val df = corpus.toDF("doc_id", "text")
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val window = SuffixArray.suffixRanks(df, "doc_id", "text").collect()
    // threshold 4 forces EVERY document onto the range-partitioned
    // two-pass path — the giant-document fallback, proven equal
    val wide = SuffixArray
      .suffixRanks(df, "doc_id", "text", giantThreshold = 4).collect()
    assert(key(wide) === key(window))
  }

  test("giant-doc LRS (class binary search) equals brute force") {
    val got = SuffixArray
      .longestRepeatedSubstring(corpus.toDF("doc_id", "text"),
        "doc_id", "text", giantThreshold = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    corpus.foreach { case (id, s) =>
      assert(got(id) === refLrs(s), s"giant-path LRS diverged for '$s'")
    }
  }

  test("cross-doc repeats: adversarial shapes (self-repeats, all-equal runs)") {
    // the tie-pruned search is class-bounded past round 0; these
    // shapes pin the deep-tie behavior (all-'a' runs keep whole
    // classes tied for log rounds) against the brute-force reference
    val groups: Seq[(String, Seq[(Long, String)])] = Seq(
      "g1" -> Seq((1L, "xxSHARED BOILERPLATE yy"), (2L, "zz SHARED BOILERPLATE ww"),
        (3L, "nothing in common")),
      "g2" -> Seq((10L, "abcabcabc"), (11L, "qqq")),
      "g5" -> Seq((40L, "aaaaaaaaaaaaaaaa"), (41L, "aaaaaaaa"), (42L, "bbb"))
    )
    val df = groups.flatMap { case (g, ds) => ds.map(d => (d._1, d._2, g)) }
      .toDF("doc_id", "text", "source")
    val got = SuffixArray
      .crossDocRepeats(df, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    groups.foreach { case (g, ds) =>
      assert(got(g) === refCross(ds), s"cross-doc diverged for $g")
    }
  }

  test("cross-doc repeats: giant-group round-0 wide dispatch equals brute force") {
    // threshold 4 forces EVERY source's concatenation through the
    // wide round-0 form (fetchShifted 16-gram + class-level
    // range-partitioned STABLE rank) — the d32 giant-group escape
    // hatch, proven equal to the window form on the same shapes
    // (incl. the deep-tie all-'a' group, whose single giant tie class
    // straddles range partitions)
    val groups: Seq[(String, Seq[(Long, String)])] = Seq(
      "g1" -> Seq((1L, "xxSHARED BOILERPLATE yy"), (2L, "zz SHARED BOILERPLATE ww"),
        (3L, "nothing in common")),
      "g2" -> Seq((10L, "abcabcabc"), (11L, "qqq")),
      "g3" -> Seq((20L, "solo document")),
      "g4" -> Seq((30L, "tail end"), (31L, "tail end")),
      "g5" -> Seq((40L, "aaaaaaaaaaaaaaaa"), (41L, "aaaaaaaa"), (42L, "bbb"))
    )
    val df = groups.flatMap { case (g, ds) => ds.map(d => (d._1, d._2, g)) }
      .toDF("doc_id", "text", "source")
    val got = SuffixArray
      .crossDocRepeats(df, "doc_id", "text", "source", giantThreshold = 4)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    groups.foreach { case (g, ds) =>
      assert(got(g) === refCross(ds), s"giant-dispatch cross-doc diverged for $g")
    }
  }

  /** Brute removal reference: position p (1-based) is covered iff the
    * max-LCP of the suffix at some a <= p with any other suffix
    * reaches past p at length >= minLen — i.e. ∃ a <= p, ∃ b != a:
    * lcp(suf_a, suf_b) >= max(minLen, p - a + 1).
    */
  private def refRemove(s: String, minLen: Int): (Long, String) = {
    def lcp(i: Int, j: Int): Int = {
      var k = 0
      while (i + k < s.length && j + k < s.length && s(i + k) == s(j + k)) k += 1
      k
    }
    val h = (0 until s.length).map { i =>
      (0 until s.length).filter(_ != i).map(j => lcp(i, j)).foldLeft(0)(math.max)
    }
    val covered = Array.fill(s.length)(false)
    for (i <- 0 until s.length; if h(i) >= minLen; k <- i until i + h(i))
      covered(k) = true
    val kept = s.zipWithIndex.collect { case (c, i) if !covered(i) => c }.mkString
    (kept.length.toLong, kept)
  }

  test("removeRepeatedSpans cuts exactly the covered positions") {
    val docs = Seq("abcabcabc", "the quick brown fox the quick brown cat",
      "no repeats here!?", "aaaaaaaaaaaa", "xyxyxyzzzxyxyxy", "") ++
      (0 until 25).map { _ =>
        (0 until (5 + rnd.nextInt(50))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      }
    val df = docs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
    for (minLen <- Seq(3, 5)) {
      val got = SuffixArray.removeRepeatedSpans(df, "doc_id", "text", minLen)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
        .toMap
      docs.zipWithIndex.foreach { case (s, i) =>
        val (keptLen, kept) = refRemove(s, minLen)
        assert(got(i.toLong) === ((s.length.toLong, keptLen, kept)),
          s"span removal diverged for '$s' at minLen=$minLen")
      }
    }
  }

  test("removeRepeatedSpans giant path (gram coverage) is byte-equal to the direct path") {
    // threshold 4 forces EVERY doc through the giant route (gram
    // gather + covered-position anti-join + chunked reassembly); the
    // gram-coverage identity says the cleaned bytes must match the
    // windowed LCP form exactly, including the no-repeat, all-covered
    // and short-doc corners
    val docs = Seq("abcabcabc", "the quick brown fox the quick brown cat",
      "no repeats here!?", "aaaaaaaaaaaa", "xyxyxyzzzxyxyxy", "ab") ++
      (0 until 20).map { _ =>
        (0 until (5 + rnd.nextInt(50))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      }
    val df = docs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
    for (minLen <- Seq(3, 5)) {
      def run(thr: Long) = SuffixArray
        .removeRepeatedSpans(df, "doc_id", "text", minLen, giantThreshold = thr)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
        .toMap
      val direct = run(1L << 30)
      val giant = run(4L)
      docs.zipWithIndex.foreach { case (s, i) =>
        assert(giant(i.toLong) === direct(i.toLong),
          s"giant span removal diverged for '$s' at minLen=$minLen")
        val (keptLen, kept) = refRemove(s, minLen)
        assert(giant(i.toLong) === ((s.length.toLong, keptLen, kept)),
          s"giant span removal vs brute force diverged for '$s' at minLen=$minLen")
      }
    }
  }

  /** Brute cross-removal reference: in doc d of source s, position p
    * is covered iff some window [a, a+minLen) with a <= p < a+minLen
    * has its literal text occurring in a DIFFERENT doc of s.
    */
  private def refCrossRemove(docs: Seq[(Long, String, String)],
      minLen: Int): Map[Long, (Long, Long, String)] = {
    docs.map { case (id, text, src) =>
      val covered = Array.fill(text.length)(false)
      for (a <- 0 to text.length - minLen) {
        val g = text.substring(a, a + minLen)
        val multi = docs.exists { case (oid, ot, osrc) =>
          oid != id && osrc == src && ot.contains(g)
        }
        if (multi) for (k <- a until a + minLen) covered(k) = true
      }
      val kept = text.zipWithIndex.collect {
        case (c, i) if !covered(i) => c
      }.mkString
      id -> ((text.length.toLong, kept.length.toLong, kept))
    }.toMap
  }

  test("crossDocSpanRemoval cuts exactly the multi-doc covered positions") {
    val docs: Seq[(Long, String, String)] = Seq(
      // shared boilerplate across two docs of s1 — cut in BOTH
      (1L, "HEADER COMMON TO ALL body one tail", "s1"),
      (2L, "prefix two HEADER COMMON TO ALL suffix", "s1"),
      // within-doc repeat only — d34's face, NOT cut here
      (3L, "abcabcabcabcabcabc unique", "s1"),
      // same text in a DIFFERENT source — no witness, not cut
      (4L, "HEADER COMMON TO ALL body one tail", "s2"),
      (5L, "completely unrelated words", "s2"),
      // full-doc duplicates — everything cut
      (6L, "identical twins everywhere", "s3"),
      (7L, "identical twins everywhere", "s3"),
      // short doc under minLen — untouched
      (8L, "tiny", "s3")) ++
      (0 until 15).map { i =>
        (100L + i, (0 until (10 + rnd.nextInt(40)))
          .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString, s"r${i % 3}")
      }
    val df = docs.toDF("doc_id", "text", "source")
    for (minLen <- Seq(5, 12)) {
      val ref = refCrossRemove(docs, minLen)
      def run(thr: Long) = SuffixArray
        .crossDocSpanRemoval(df, "doc_id", "text", "source", minLen,
          giantThreshold = thr)
        .collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
          r.getLong(3), r.getString(4)))).toMap
      val direct = run(1L << 30)
      val giant = run(6L) // forces most docs through the giant route
      docs.foreach { case (id, text, src) =>
        val (n, keptN, kept) = ref(id)
        assert(direct(id) === ((src, n, keptN, kept)),
          s"cross removal diverged for doc $id at minLen=$minLen")
        assert(giant(id) === direct(id),
          s"giant-route cross removal diverged for doc $id at minLen=$minLen")
      }
    }
  }

  test("crossDocRepeats refuses past the tie-mass budget with a diagnosis") {
    val boiler = "SHARED BOILERPLATE LONG ENOUGH TO TIE AT LEVEL SIXTEEN"
    val docs: Seq[(Long, String, String)] = Seq(
      (1L, s"alpha $boiler one", "s1"),
      (2L, s"beta $boiler two", "s1"),
      (3L, s"gamma $boiler three", "s1"),
      (4L, "clean unrelated text with no repeats", "s2"))
    val df = docs.toDF("doc_id", "text", "source")
    // budget 1: the frozen-level tie mass (every boilerplate window
    // position, ~3 × 40) must refuse BEFORE the refinement loop
    val e = intercept[IllegalStateException] {
      SuffixArray.crossDocRepeats(df, "doc_id", "text", "source",
        tieMassBudget = 1L).collect()
    }
    assert(e.getMessage.contains("budget"), e.getMessage)
    assert(e.getMessage.contains("volume"), e.getMessage)
    // the diagnosis names the routes out, not just the refusal
    assert(e.getMessage.contains("crossDocSpanRemoval"), e.getMessage)
    assert(e.getMessage.contains("p07"), e.getMessage)
    assert(e.getMessage.contains("tieMassBudget"), e.getMessage)
    // an ample explicit budget returns the same answer as the default
    def key(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq
    val ample = SuffixArray.crossDocRepeats(df, "doc_id", "text",
      "source", tieMassBudget = Long.MaxValue).collect()
    val default = SuffixArray.crossDocRepeats(df, "doc_id", "text",
      "source").collect()
    assert(key(ample) === key(default))
    assert(default.exists(r => r.getString(0) == "s1" && r.getLong(1) >= boiler.length),
      "the boilerplate repeat must be found under the default budget")
  }

  test("cross-span removal equals brute force at minLen 5/20/40") {
    // long shared boilerplate (85 chars) so minLen = 40 (d37's width)
    // is non-vacuous
    val boiler = "THIS LONG SHARED BOILERPLATE SENTENCE REPEATS ACROSS " +
      "DOCUMENTS VERBATIM DIGITS 0123456789"
    val docs: Seq[(Long, String, String)] = Seq(
      (1L, s"alpha $boiler omega", "s1"),
      (2L, s"$boiler middle bit $boiler", "s1"),
      (3L, "no repeats here at all just ordinary words", "s1"),
      (4L, s"other-source prefix $boiler", "s2"),
      (5L, s"twin $boiler twin", "s2"),
      (6L, "tiny", "s2")) ++
      // dense 3-letter random docs: many short repeats, so most
      // positions are cut at the small widths
      (0 until 15).map { i =>
        (100L + i, (0 until (10 + rnd.nextInt(40)))
          .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString, s"r${i % 3}")
      }
    val df = docs.toDF("doc_id", "text", "source")
    for (minLen <- Seq(5, 20, 40); thr <- Seq(1L << 30, 24L)) {
      val got = SuffixArray.crossDocSpanRemoval(df, "doc_id", "text",
        "source", minLen, giantThreshold = thr).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
      val ref = refCrossRemove(docs, minLen)
      docs.foreach { case (id, _, _) =>
        assert(got(id) === ref(id),
          s"cross removal diverged from brute force for doc $id " +
            s"at minLen=$minLen thr=$thr")
      }
    }
  }

  test("crossSpanIndex merge of disjoint halves reproduces the direct removal") {
    val docs: Seq[(Long, String, String)] = Seq(
      (1L, "HEADER COMMON TO ALL body one tail", "s1"),
      (2L, "prefix two HEADER COMMON TO ALL suffix", "s1"),
      (3L, "abcabcabcabcabcabc unique", "s1"),
      (4L, "HEADER COMMON TO ALL body one tail", "s2"),
      (6L, "identical twins everywhere", "s3"),
      (7L, "identical twins everywhere", "s3")) ++
      (0 until 12).map { i =>
        (100L + i, (0 until (10 + rnd.nextInt(40)))
          .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString, s"r${i % 2}")
      }
    val df = docs.toDF("doc_id", "text", "source")
    for (minLen <- Seq(5, 12); thr <- Seq(1L << 30, 6L)) {
      def key(rows: Array[org.apache.spark.sql.Row]) = rows
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getString(4))).sorted.toSeq
      val direct = SuffixArray.crossDocSpanRemoval(df,
        "doc_id", "text", "source", minLen, giantThreshold = thr).collect()
      val hist = df.where(pmod(col("doc_id"), lit(2L)) === 0)
      val batch = df.where(pmod(col("doc_id"), lit(2L)) === 1)
      val merged = SuffixArray.crossSpanIndexMerge(
        SuffixArray.crossSpanIndex(hist, "doc_id", "text", "source",
          minLen, giantThreshold = thr),
        SuffixArray.crossSpanIndex(batch, "doc_id", "text", "source",
          minLen, giantThreshold = thr))
      val fromIx = SuffixArray.crossDocSpanRemovalFromIndex(df, merged,
        "doc_id", "text", "source", minLen, giantThreshold = thr).collect()
      assert(key(fromIx) === key(direct),
        s"index-merged removal diverged at minLen=$minLen thr=$thr")
    }
  }

  test("giant route crosses gatherGrams/cutCoveredGiant chunk boundaries byte-equal to the direct path") {
    // ADVICE r12: no spec crossed a chunk boundary in the chunked
    // scan-local gram assembly (c = 8192 grams/chunk) or the
    // chunk-local char split in cutCoveredGiant (cw = 65536 chars) —
    // every spec doc was < ~90 chars. This doc is 70,123 chars (not a
    // multiple of either width): ~9 gram chunks and 2 char chunks,
    // with planted cross-doc spans straddling the 8192/16384/65536
    // boundaries and one at the tail, so windows that START in one
    // chunk and END in the next must still assemble and cut exactly.
    val r2 = new scala.util.Random(20260818)
    val n = 70123
    val big = new StringBuilder
    while (big.length < n) big += ('a' + r2.nextInt(26)).toChar
    val span = "QWERTYUIOPASDFGHJKLZXCVBNM0123456789QWERTYUIOPASDFGHJKLZX"
    // 1-based plant positions: straddle each boundary (span length 58)
    val plants = Seq(8192 - 20, 16384 - 35, 65536 - 10, n - span.length - 2)
    val bigText = {
      val sb = new StringBuilder(big.toString.take(n))
      plants.foreach(p => sb.replace(p - 1, p - 1 + span.length, span))
      sb.toString
    }
    val docs = Seq(
      (1L, bigText, "s1"),
      (2L, s"witness one $span witness", "s1"),
      (3L, "unrelated small doc with no shared spans at all", "s1"))
    val df = docs.toDF("doc_id", "text", "source")
    def key(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4))).sorted.toSeq
    // both widths route doc 1 through gatherGrams + the covered cut
    // when the threshold sits below its length
    for (minLen <- Seq(20, 40)) {
      val direct = SuffixArray.crossDocSpanRemoval(df, "doc_id", "text",
        "source", minLen, giantThreshold = 1L << 30).collect()
      val giant = SuffixArray.crossDocSpanRemoval(df, "doc_id", "text",
        "source", minLen, giantThreshold = 1000L).collect()
      assert(key(giant) === key(direct),
        s"multi-chunk giant route diverged at minLen=$minLen")
      // non-vacuity: every planted span is actually cut in doc 1
      val cleaned = giant.find(_.getLong(0) == 1L).get.getString(4)
      assert(!cleaned.contains(span.take(minLen)),
        s"planted spans must be cut at minLen=$minLen")
      assert(cleaned.length < n && cleaned.length > n - plants.size * 200,
        "cut volume must be the planted spans, not wholesale")
    }
  }

  test("null and empty texts yield no suffix rows, not errors") {
    val df = Seq((1L, "ab"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    assert(SuffixArray.suffixRanks(df, "doc_id", "text")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet === Set(1L))
  }
}
