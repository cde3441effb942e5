package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, SuffixArray, TextAnalysis}
import graft.sources.Tables

/** Dedup pack over `documents` / `embeddings` (SURVEY §2C). The test
  * tables contain no natural duplicates, so each query self-unions the
  * table with exact or mutated copies (id + 1_000_000) — the oracle
  * builds the identical input — making every dedup operator's output
  * non-trivial and hash-checkable.
  */
object DedupQueries {

  /** Fail LOUDLY if a synthetic twin-id shift would collide with a
    * real id: at a larger scale factor a colliding shift silently
    * breaks the "every twin flagged" non-vacuity gate in BOTH engines
    * at once (the oracle builds the identical collided input, so the
    * compare stays green while verifying nothing). The max() is a
    * column-pruned single-long scan — negligible next to the dedup
    * work it guards.
    */
  private[graft] def requireDisjointShift(df: DataFrame, idCol: String,
      shift: Long): Unit = {
    val row = df.agg(max(col(idCol))).head()
    val maxId = if (row.isNullAt(0)) Long.MinValue else row.getLong(0)
    require(maxId < shift,
      s"twin-id shift collides: max($idCol)=$maxId >= $shift — " +
        "raise the shift in the query AND its oracle together")
  }

  /** documents ∪ exact copies. */
  private def docsWithCopies(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.load(s, d, "documents").select("doc_id", "text", "source")
    requireDisjointShift(docs, "doc_id", 1000000L)
    docs.unionByName(docs.select((col("doc_id") + 1000000).as("doc_id"),
      col("text"), col("source")))
  }

  /** documents ∪ near-duplicate copies (one word appended). */
  private[graft] def docsWithMutations(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.load(s, d, "documents").select("doc_id", "text", "source")
    requireDisjointShift(docs, "doc_id", 1000000L)
    docs.unionByName(docs.select((col("doc_id") + 1000000).as("doc_id"),
      concat(col("text"), lit(" spark")).as("text"), col("source")))
  }

  /** documents ∪ prefix-excerpt twins (the first half of each text):
    * every excerpt's shingle set is a SUBSET of its source's (a string
    * prefix generates a position-aligned subset of the source's stride
    * windows), so containment(excerpt, source) = 1.0 while Jaccard is
    * only ~0.5 — the pair a symmetric near-dup join never reports.
    */
  private[graft] def docsWithExcerpts(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.load(s, d, "documents").select("doc_id", "text")
    requireDisjointShift(docs, "doc_id", 1000000L)
    docs.unionByName(docs.select((col("doc_id") + 1000000).as("doc_id"),
      expr("substring(text, 1, greatest(length(text) div 2, 8))").as("text")))
  }

  /** d08/d10 probe one shared corpus: ids +1000000 are exact copies (a
    * Bloom filter must flag every one — no false negatives), ids
    * +2000000 are mutations (any flag is a false positive). The id
    * offset doubles as the true-dup / false-positive classifier in
    * [[bloomSummary]], so the two queries measure the same corpus and
    * the same summary shape by construction.
    */
  private def bloomProbeCorpus(docs: DataFrame): DataFrame = {
    requireDisjointShift(docs, "doc_id", 1000000L)
    docs.select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      .unionByName(docs.select((col("doc_id") + 2000000).as("doc_id"),
        concat(col("text"), lit(" spark")).as("text")))
  }

  /** Four-column flag summary over a [[bloomProbeCorpus]] probe. */
  private def bloomSummary(flags: DataFrame): DataFrame =
    flags.agg(
      count(lit(1)).as("n_incoming"),
      sum(when(col("probably_seen"), 1L).otherwise(0L)).as("n_flagged"),
      sum(when(col("id") < 2000000 && col("probably_seen"), 1L).otherwise(0L))
        .as("n_true_dups_flagged"),
      sum(when(col("id") >= 2000000 && col("probably_seen"), 1L).otherwise(0L))
        .as("n_false_positives"))

  private val copiesCte =
    """all_docs AS (SELECT doc_id, text, source FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text, source FROM documents)""".stripMargin
  private[queries] val mutationsCte =
    """all_docs AS (SELECT doc_id, text, source FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text || ' spark', source FROM documents)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d01_exact_dedup" -> ((s, d) => {
      Dedup.exactGroups(docsWithCopies(s, d), "doc_id", "text")
        .orderBy("canonical_id")
    }),

    "d02_minhash_lsh" -> ((s, d) => {
      Dedup.minHashCandidatePairs(docsWithMutations(s, d), "doc_id", "text")
        .orderBy("id_a", "id_b")
    }),

    "d03_simhash" -> ((s, d) => {
      Dedup.simHashPairs(docsWithMutations(s, d), "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    "d04_ngram_jaccard" -> ((s, d) => {
      // blocking key = source x word-count band: candidate pairs must be
      // length-compatible anyway (high Jaccard needs similar sizes), and
      // banding cuts per-block pair fan-out ~100x. A near-dup landing in
      // the adjacent band is missed — the standard single-band tradeoff
      // (production would probe both bands); the oracle applies the
      // identical rule.
      val docs = docsWithMutations(s, d)
        .withColumn("blk",
          concat(col("source"), lit("|"),
            expr("cast(size(split(text, ' ')) div 10 as string)")))
      Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          blockCol = "blk", minJaccard = 0.5)
        .orderBy("id_a", "id_b")
    }),

    // the EXACT complement of d04: prefix filtering finds every pair
    // with Jaccard >= 9/10 — no blocking key, no rare-gram cap,
    // provably no false negatives. Universe and threshold are chosen
    // FOR THIS CORPUS, per the operator's cost model: whitespace-word
    // sets degenerate outright (bags of ~30 shared words — 289k pairs
    // pass even 3/5), word bigrams saturate (≤900 keys, quadratic
    // buckets, measured 100 s at sf0.1), and char-8 shingles at
    // tau=3/5 still paid a 19M-candidate prefix (~200 s); shingles at
    // the near-dup threshold 9/10 cut the prefix fraction 4x and the
    // candidate volume 16x (1.2M), while the planted " spark"
    // mutations (J ≈ 0.96) still qualify.
    "d11_prefix_filter_join" -> ((s, d) => {
      Dedup.prefixFilterPairs(docsWithMutations(s, d), "doc_id", "text",
          tauNum = 9, tauDen = 10,
          tokens = t => array_distinct(Dedup.shingleHashes(t)))
        .orderBy("id_a", "id_b")
    }),

    // the ASYMMETRIC complement of d11: exact containment join at
    // C(A,B) = |A∩B|/|A| >= 9/10 over the same shingle universe. The
    // corpus plants prefix-excerpt twins whose containment in their
    // source is exactly 1.0 but whose Jaccard (~0.5) is invisible to
    // every symmetric query in this pack — quote/excerpt/boilerplate-
    // superset detection, the Lee et al. "drop the contained member"
    // signal. Only the probe side carries a prefix (tau bounds nothing
    // about |B|), so candidates join prefix × full-token relation
    // under the same pre-join budget guard discipline as d11.
    "d21_containment_join" -> ((s, d) => {
      Dedup.containmentPairs(docsWithExcerpts(s, d), "doc_id", "text",
          tauNum = 9, tauDen = 10,
          tokens = t => array_distinct(Dedup.shingleHashes(t)))
        .orderBy("id_a", "id_b")
    }),

    // d21's PRE-BLOCKED face (the budget escape hatch): containment
    // sought only within equal `source` — the stated domain assumption
    // that excerpts never cross sources. Exact within each block
    // (excerpt twins inherit their base doc's source, so every
    // base↔excerpt pair survives); candidate volume drops to the
    // per-block sums (~1/B on B spread blocks — the measured d21 30×
    // guard-trip margin was 1.47×, well inside one block's savings).
    "d26_blocked_containment" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
        .select("doc_id", "text", "source")
      requireDisjointShift(docs, "doc_id", 1000000L)
      val corpus = docs.unionByName(docs.select(
        (col("doc_id") + 1000000).as("doc_id"),
        expr("substring(text, 1, greatest(length(text) div 2, 8))")
          .as("text"),
        col("source")))
      Dedup.containmentPairs(corpus, "doc_id", "text",
          tauNum = 9, tauDen = 10,
          tokens = t => array_distinct(Dedup.shingleHashes(t)),
          blockBy = Some(col("source")))
        .orderBy("id_a", "id_b")
    }),

    // the d16 settle pattern for the CONTAINMENT family: the persisted
    // index (history tokens/prefixes/df under the FROZEN history-df
    // order — the prefix theorem holds for ANY shared total order, so
    // freezing costs no recall) is probed by the batch in all three
    // directions the asymmetry needs. Plants: +1M excerpts of HISTORY
    // docs (only the batch.prefix × history.toks probe finds their
    // source), +2M in-batch excerpts, +3M batch SUPERSETS of history
    // docs (text doubled — only the history.prefix × batch.toks
    // direction finds history contained in them)
    "d24_incremental_containment" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents").select("doc_id", "text")
        .where(col("text").isNotNull)
      requireDisjointShift(docs, "doc_id", 1000000L)
      val hist = docs.where(col("doc_id") % 3 =!= 0)
      val batch = docs.where(col("doc_id") % 3 === 0)
        .unionByName(hist.where(col("doc_id") % 10 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            expr("substring(text, 1, greatest(length(text) div 2, 8))")
              .as("text")))
        .unionByName(docs.where(col("doc_id") % 3 === 0 && col("doc_id") % 10 === 2)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            expr("substring(text, 1, greatest(length(text) div 2, 8))")
              .as("text")))
        .unionByName(hist.where(col("doc_id") % 10 === 3)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat(col("text"), lit(" "), col("text")).as("text")))
      val idx = Dedup.containmentIndex(hist, "doc_id", "text",
        tauNum = 9, tauDen = 10,
        tokens = t => array_distinct(Dedup.shingleHashes(t)))
      Dedup.incrementalContainmentPairs(idx, batch, "doc_id", "text",
          tauNum = 9, tauDen = 10,
          tokens = t => array_distinct(Dedup.shingleHashes(t)))
        .orderBy("id_a", "id_b")
    }),

    // UNICODE-canonical exact dedup — t19's NFC expression composed
    // into d01's fingerprint: composed and decomposed renderings of
    // the same text are byte-DIFFERENT (raw md5 dedup keeps both —
    // the multilingual-corpus trap) but must land in one group once
    // the fingerprint normalizes first. Every doc gets a composed-
    // suffix original and a decomposed-suffix twin; every group must
    // come back with n_copies = 2 or the hash breaks
    "d23_canonical_dedup" -> ((s, d) => {
      import graft.functions.TextNormExpressions.nfc_normalize
      val docs = Tables.load(s, d, "documents").select("doc_id", "text")
        .where(col("text").isNotNull)
      requireDisjointShift(docs, "doc_id", 1000000L)
      val corpus = docs
        .select(col("doc_id"),
          concat(col("text"), lit(TextQueries.NfcProbeComposed)).as("text"))
        .unionByName(docs.select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(TextQueries.NfcProbeDecomposed)).as("text")))
      Dedup.exactGroups(
          corpus.select(col("doc_id"), nfc_normalize(col("text")).as("text")),
          "doc_id", "text")
        .orderBy("canonical_id")
    }),

    // d21's detection composed into the REWRITE (the d14->d15 pattern
    // for the containment family): every contained doc dropped with
    // attribution to its smallest container, mutual pairs keep the
    // lower id, kept/dropped status for the WHOLE corpus in one
    // relation — every excerpt twin must come back dropped into its
    // source or the hash breaks
    "d22_superset_removal" -> ((s, d) => {
      val corpus = docsWithExcerpts(s, d)
      val pairs = Dedup.containmentPairs(corpus, "doc_id", "text",
        tauNum = 9, tauDen = 10,
        tokens = t => array_distinct(Dedup.shingleHashes(t)))
      val drops = Dedup.supersetDrops(pairs)
        .withColumnRenamed("id", "doc_id")
      corpus.select("doc_id").join(drops, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("kept_in").isNull, lit("kept")).otherwise(lit("dropped"))
            .as("status"),
          col("kept_in"))
        .orderBy("doc_id")
    }),

    // fuzzy entity resolution over part names: every part gets a dirty
    // twin with ONE deterministic character deletion (at position
    // p_partkey % length — sometimes inside the prefix block,
    // sometimes not, so both blocking passes earn their keep); the
    // best clean match per dirty name is found by multi-pass blocking
    // + levenshtein <= 2 verify. Per-row output: every match
    // hash-checked.
    "d12_fuzzy_join" -> ((s, d) => {
      val clean = Tables.load(s, d, "part")
        .select(col("p_partkey").as("pid"), col("p_name").as("pname"))
      val dirty = clean.select((col("pid") + 1000000L).as("did"),
        expr("concat(substr(pname, 1, cast(pid % length(pname) as int)), " +
          "substr(pname, cast(pid % length(pname) as int) + 2))").as("dname"))
      graft.ops.Fuzzy.bestMatch(dirty, "did", "dname",
          clean, "pid", "pname", maxDist = 2)
        .select(col("dirty_id"), col("clean_id"), col("dist"))
        .orderBy("dirty_id")
    }),

    "d06_neardup_clusters" -> ((s, d) => {
      // pair detection -> dedup groups: connected components over the
      // minhash candidate pairs; output one row per cluster with its
      // canonical (min) id and size
      val pairs = Dedup.minHashCandidatePairs(docsWithMutations(s, d), "doc_id", "text")
      Dedup.connectedComponents(pairs)
        .groupBy(col("label").as("canonical_id"))
        .agg(count(lit(1)).as("cluster_size"))
        .orderBy("canonical_id")
    }),

    "d07_clusters_via_buckets" -> ((s, d) => {
      // same clusters as d06, computed WITHOUT the pair expansion:
      // each band bucket star-contracts to its min member (O(m) edges
      // per bucket vs C(m,2)) — the dense-bucket-proof form;
      // hash-checked against the SAME pair-relation oracle, proving
      // the equivalence
      Dedup.connectedComponentsOverBuckets(
          docsWithMutations(s, d), "doc_id", "text")
        .groupBy(col("label").as("canonical_id"))
        .agg(count(lit(1)).as("cluster_size"))
        .orderBy("canonical_id")
    }),

    // incremental exact dedup — the EXACT settle step behind d08's
    // approximate pre-filter: history = docs with doc_id % 3 != 0;
    // today's batch = the % 3 == 0 slice plus two deterministic plants
    // (an exact copy of every 5th history doc -> must be dropped by the
    // history anti-join; a second copy of every 4th batch doc -> must
    // collapse to one canonical row with n_copies = 2). Anti-join on
    // the fingerprint, canonical = min id. NULL text is filtered on
    // BOTH sides (the q35 rule): a NULL fingerprint in the history
    // would void DuckDB's NOT IN entirely (three-valued logic) while
    // Spark's anti join just never matches it — pin the semantics
    // rather than inherit the engines' disagreement.
    // incremental LSH: the new batch probes the PERSISTED band-bucket
    // index (batch x history via one bucket equi-join) plus itself —
    // history x history pairs are already known and never recomputed,
    // so the refresh is batch-sized (Dedup.incrementalMinHashCandidates;
    // the d09 settle pattern applied to near-dup detection). Plants:
    // +1M ids are mutated copies of HISTORY docs (only the index probe
    // can find their pair), +2M ids are mutated copies of batch docs
    // (the in-batch self-join must find them).
    "d16_incremental_lsh" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents").select("doc_id", "text")
        .where(col("text").isNotNull)
      requireDisjointShift(docs, "doc_id", 1000000L)
      val hist = docs.where(col("doc_id") % 3 =!= 0)
      val batch = docs.where(col("doc_id") % 3 === 0)
        .unionByName(hist.where(col("doc_id") % 10 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" spark")).as("text")))
        .unionByName(docs.where(col("doc_id") % 3 === 0 && col("doc_id") % 10 === 2)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(col("text"), lit(" spark")).as("text")))
      Dedup.incrementalMinHashCandidates(
          Dedup.bandKeys(hist, "doc_id", "text"), batch, "doc_id", "text")
        .orderBy("id_a", "id_b")
    }),

    // incremental CLUSTER maintenance (Dedup.incrementalClusters) over
    // d16's corpus: history is clustered once (the persisted label
    // state), the batch's probe edges update it via label-graph
    // contraction — history×history never re-clusters. The oracle runs
    // the DIRECT full-corpus CC walk: hash-match proves incremental ==
    // direct, including batch edges that BRIDGE two history clusters.
    "d17_incremental_clusters" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents").select("doc_id", "text")
        .where(col("text").isNotNull)
      requireDisjointShift(docs, "doc_id", 1000000L)
      val hist = docs.where(col("doc_id") % 3 =!= 0)
      val batch = docs.where(col("doc_id") % 3 === 0)
        .unionByName(hist.where(col("doc_id") % 10 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" spark")).as("text")))
        .unionByName(docs.where(col("doc_id") % 3 === 0 && col("doc_id") % 10 === 2)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(col("text"), lit(" spark")).as("text")))
      // ONE banding pass over history: the persisted-index stand-in is
      // checkpointed and feeds BOTH the history clustering (its pair
      // derivation) and the batch probe — exactly what production
      // does, where the band relation is parquet state read twice
      val hb = Dedup.bandKeys(hist, "doc_id", "text").localCheckpoint(true)
      val histPairs = hb.as("a").join(hb.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_key") === col("b.band_key") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      val histLabels = Dedup.connectedComponents(histPairs)
      val newEdges = Dedup.incrementalMinHashCandidates(
        hb, batch, "doc_id", "text")
      Dedup.incrementalClusters(histLabels, newEdges)
        .groupBy(col("label").as("canonical_id"))
        .agg(count(lit(1)).as("cluster_size"))
        .orderBy("canonical_id")
    }),

    // estimator accuracy: the minhash Jaccard estimate vs the exact
    // shingle-set Jaccard per candidate pair — the (bands, rows)
    // tuning view, deterministic end to end
    "d18_minhash_estimate" -> ((s, d) => {
      Dedup.minhashEstimateVsExact(docsWithMutations(s, d), "doc_id", "text")
        .orderBy("id_a", "id_b")
    }),

    "d09_incremental_dedup" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents").select("doc_id", "text")
        .where(col("text").isNotNull)
      val hist = docs.where(col("doc_id") % 3 =!= 0)
      val todayBase = docs.where(col("doc_id") % 3 === 0)
      val today = todayBase
        .unionByName(hist.where(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
        .unionByName(todayBase.where(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
      Dedup.incrementalNew(today, hist, "doc_id", "text")
        .orderBy("canonical_id")
    }),

    // incremental dedup pre-filter: history = the documents table;
    // incoming = one exact copy (must flag: Bloom has no false
    // negatives) + one mutation (flags only as a false positive) per
    // doc. Sketch bit layout is engine-specific -> rows-only here,
    // envelope-checked in SketchEnvelopeSpec.
    "d08_bloom_prefilter" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents").select("doc_id", "text", "source")
      val probe = Dedup.bloomSeenFlags(docs, bloomProbeCorpus(docs), "doc_id", "text",
        expectedItems = 100000, fpp = 0.01)
      // the summary is one row: materialize it eagerly so the
      // broadcast filter can be released before returning (repeated
      // bench passes must not accumulate executor-side broadcasts)
      val r = bloomSummary(probe.flags).head()
      probe.release()
      import s.implicits._
      Seq((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toDF("n_incoming", "n_flagged", "n_true_dups_flagged", "n_false_positives")
    }),

    // the d08 shape rebuilt on the DETERMINISTIC Bloom (q35/q24
    // pattern): md5-derived bit positions make the filter a pure
    // function of the corpus, so the same flags — and even the number
    // of set bits — replay in DuckDB and the summary hash-matches,
    // where d08's engine-private sketch can only be envelope-checked
    "d10_bloom_exact" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents").select("doc_id", "text", "source")
      bloomSummary(
        Dedup.deterministicBloomFlags(docs, bloomProbeCorpus(docs), "doc_id", "text"))
    }),

    "d05_embedding_neardup" -> ((s, d) => {
      import graft.functions.VectorFunctions._
      val e = Tables.load(s, d, "embeddings").select("vec_id", "embedding")
      requireDisjointShift(e, "vec_id", 100000L)
      val all = e.unionByName(e.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      val b = all.select(col("vec_id"), quantize(col("embedding")).as("q"))
        .withColumn("bucket", signBucket(col("q"), 16))
        .withColumn("norm", normSqQ(col("q")))
      val l = b.as("a"); val r = b.as("b")
      l.join(r, col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("cosine",
          cosineQ(col("a.q"), col("b.q"), col("a.norm"), col("b.norm")))
        .where(col("cosine") >= 0.999)
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cosine"))
        .orderBy("vec_a", "vec_b")
    }),

    // duplicated-span profile: per document, what fraction of its
    // shingle positions is text that exists in other documents —
    // the boilerplate/template signal (Lee et al. 2022)
    "d14_duplicated_spans" -> ((s, d) => {
      Dedup.duplicatedSpans(Tables.load(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // the REMOVAL twin of d14 (Lee et al.'s actual rewrite): cut every
    // stride-sampled span whose hash occurs in >= 2 docs, keep the
    // stitched remainder. The md5 of the cleaned text rides in the
    // hash compare, so the rewrite is byte-for-byte verified without
    // shipping full texts through the artifact.
    "d15_span_removal" -> ((s, d) => {
      Dedup.removeDuplicatedSpans(Tables.load(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          length(col("cleaned")).cast("long").as("n_kept_chars"),
          md5(col("cleaned")).as("cleaned_md5"))
        .orderBy("doc_id")
    }),

    // the EXACT member of the Lee et al. family (suffix-array form):
    // maximal runs of tokens covered by an 8-gram occurring at >= 2
    // corpus positions, found by fixed-width suffix-key grouping — no
    // stride, no sampling, where d14/d15 test only stride-aligned
    // starts (coverage semantics: see exactDuplicatedSpans' scaladoc)
    "d19_exact_dup_spans" -> ((s, d) => {
      Dedup.exactDuplicatedSpans(Tables.load(s, d, "documents"),
          "doc_id", "text", l = 8)
        .orderBy("doc_id", "span_start")
    }),

    // d19's removal twin (d15 : d14 :: d20 : d19): every token covered
    // by an exact duplicated span is cut, all occurrences; the cleaned
    // text's md5 rides the hash so the rewrite is byte-verified
    // without shipping texts
    "d20_exact_span_removal" -> ((s, d) => {
      Dedup.removeExactDuplicatedSpans(Tables.load(s, d, "documents"),
          "doc_id", "text", l = 8)
        .select(col("doc_id"), col("n_tokens"), col("n_kept_tokens"),
          md5(col("cleaned")).as("cleaned_md5"))
        .orderBy("doc_id")
    }),

    // d19's 100 TB form (r8): the corpus-sized shuffle carries the
    // 128-bit gram hash, candidates re-derive their raw grams by
    // position and re-verify on literal text — identical spans by
    // construction, so the oracle IS d19's raw-text statement: the
    // hash never appears in the contract, only in the plan
    "d25_exact_dup_spans_hashed" -> ((s, d) => {
      Dedup.exactDuplicatedSpansHashed(Tables.load(s, d, "documents"),
          "doc_id", "text", l = 8)
        .orderBy("doc_id", "span_start")
    }),

    // Content-defined chunk dedup (the rsync/FastCDC primitive on
    // corpus text): boundaries chosen by a rolling 32-bit window hash
    // (≡ 0 mod 31, expected ~31-char chunks), so shared boilerplate
    // between documents dedups even when its OFFSET differs — fixed
    // blocks (m03) would misalign after one insertion. Per source:
    // chunk volume, distinct volume, and the duplicated-character
    // mass chunk-level dedup would reclaim. One generated pass per
    // doc (no per-character explode — the chunk relation is ~n/31
    // rows, not n), then a chunk-hash groupBy; scale shape is exact
    // dedup's (d01), never pairwise.
    "d27_cdc_chunks" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
      Dedup.cdcChunkStats(docs, Dedup.cdcChunkIndex(docs))
        .orderBy("source")
    }),

    // the chunk index maintained INCREMENTALLY (the t14/t15 merge
    // discipline): two disjoint halves indexed separately, merged by
    // pure algebra (counts add, lengths min), reported through the
    // same stats face — and gated against d27's ORACLE, so any merge
    // wrongness breaks this hash while d27 stays green. Refresh cost
    // ∝ the batch: history chunks never recompute.
    "d28_incremental_cdc" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
      val hist = docs.where(pmod(col("doc_id"), lit(2L)) === 0)
      val batch = docs.where(pmod(col("doc_id"), lit(2L)) === 1)
      Dedup.cdcChunkStats(docs,
          Dedup.cdcChunkMerge(
            Dedup.cdcChunkIndex(hist), Dedup.cdcChunkIndex(batch)))
        .orderBy("source")
    }),

    // Winnowing fingerprints (the MOSS plagiarism-detection scheme):
    // content-locked sampling of k-gram hashes — every window of w
    // consecutive grams contributes its rightmost minimum — so any
    // shared substring of >= w+k-1 chars yields a shared fingerprint
    // at ~2/(w+1) of the gram volume. Per doc: grams, fingerprints
    // selected, fingerprints shared with other docs (the boilerplate
    // signal d14 measures exhaustively, here at winnowed cost).
    "d29_winnow_fingerprints" -> ((s, d) => {
      Dedup.winnowStats(Tables.load(s, d, "documents"),
          "doc_id", "text", k = Dedup.WinnowK, w = Dedup.WinnowW)
        .orderBy("doc_id")
    }),

    // Distributed suffix-array construction (prefix doubling): the
    // per-position suffix RANK relation — n (doc, pos, rank) rows,
    // never n² suffix bytes — built in ⌈log₂ len⌉ rank-refinement
    // rounds with early exit. The oracle states the DEFINITION
    // (rank() over suffix strings) that the engine must reproduce
    // without ever comparing a string after round 0.
    "d30_suffix_ranks" -> ((s, d) => {
      SuffixArray.suffixRanks(Tables.load(s, d, "documents"),
          "doc_id", "text")
        .orderBy("doc_id", "pos")
    }),

    // THE suffix-array application (Lee et al. 2022's exact form):
    // longest substring occurring twice in a document = max LCP over
    // rank-adjacent suffix pairs; witness tie-broken lexicographically.
    // Catches repeats of ANY length where d19/d25 see only >= l-gram
    // repeats.
    "d31_longest_repeat" -> ((s, d) => {
      SuffixArray.longestRepeatedSubstring(Tables.load(s, d, "documents"),
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    // the winnow index maintained INCREMENTALLY (the d28/t15 merge
    // discipline): two disjoint halves fingerprinted separately,
    // their per-hash distinct-doc counts merged by pure algebra
    // (disjoint doc sets => counts add), reported through the same
    // stats face — and gated against d29's ORACLE, so any merge
    // wrongness breaks this hash while d29 stays green. Refresh cost
    // ∝ the batch: history docs never re-fingerprint.
    "d33_incremental_winnow" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
      val fps = Dedup.winnowFingerprints(docs, "doc_id", "text", k = Dedup.WinnowK, w = Dedup.WinnowW)
      val hist = fps.where(pmod(col("doc_id"), lit(2L)) === 0)
      val batch = fps.where(pmod(col("doc_id"), lit(2L)) === 1)
      Dedup.winnowStatsFromIndex(fps,
          Dedup.winnowIndexMerge(
            Dedup.winnowIndex(hist), Dedup.winnowIndex(batch)))
        .orderBy("doc_id")
    }),

    // The GENERALIZED suffix array (cross-document): each source's
    // doc_id-ordered, sentinel-joined concatenation ranked as one
    // virtual string; the longest substring occurring in TWO DIFFERENT
    // documents is the source's shared-boilerplate measure, exact at
    // any length (the cross-doc form of Lee et al. 2022 — d14/d19 see
    // only fixed-l grams). Max over rank-adjacent cross-doc pairs ==
    // max over all cross-doc pairs (the LCP-min-over-path argument).
    "d32_cross_doc_repeats" -> ((s, d) => {
      SuffixArray.crossDocRepeats(Tables.load(s, d, "documents"),
          "doc_id", "text", "source")
        .orderBy("source")
    }),

    // The suffix-array family's REMOVAL face (the Lee et al. 2022
    // application d30–d32 only detect): every position covered by a
    // within-doc repeated substring of length >= minLen is cut, all
    // occurrences; the cleaned text's md5 rides the hash so the
    // rewrite is byte-verified without shipping texts (the d20
    // discipline). Detection shares d30's rank chain — the oracle
    // states spans from the same lag()-over-suffix-order LCPs, so
    // detection and rewrite cannot drift.
    "d34_repeat_span_removal" -> ((s, d) => {
      SuffixArray.removeRepeatedSpans(Tables.load(s, d, "documents"),
          "doc_id", "text", minLen = RepeatSpanMinLen)
        .select(col("doc_id"), col("n_chars"), col("n_kept_chars"),
          md5(col("cleaned")).as("cleaned_md5"))
        .orderBy("doc_id")
    }),

    // CROSS-document span removal (the Lee et al. 2022 ExactSubstr
    // application at its real granularity — the face d32 detects and
    // d34 cuts only within-doc): every span of >= minLen chars
    // occurring in >= 2 distinct docs of a source is cut, ALL
    // occurrences. Detection is the gram-coverage identity (union of
    // qualifying spans == union of multi-doc minLen-windows), literal
    // string equality; the rewrite rides the d34 island/complement
    // fold and is byte-verified through the cleaned md5 (the d20
    // discipline). minLen = 20 cuts ~42% of verify-SF docs — the gate
    // is non-vacuous in both directions.
    "d35_cross_span_removal" -> ((s, d) => {
      SuffixArray.crossDocSpanRemoval(Tables.load(s, d, "documents"),
          "doc_id", "text", "source", minLen = CrossSpanMinLen)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("n_kept_chars"), md5(col("cleaned")).as("cleaned_md5"))
        .orderBy("doc_id")
    }),

    // d35's SETTLE face (the d27→d28 / d29→d33 discipline): the
    // per-(source, gram) distinct-doc index built on two disjoint
    // halves separately, merged by pure algebra (disjoint doc sets ⇒
    // counts add — no re-tokenization), and the removal rewrite run
    // FROM the merged index. Gated against d35's ORACLE, so any merge
    // wrongness breaks this hash while d35 stays green. Refresh cost
    // ∝ the batch: history docs never re-gram.
    "d36_incremental_cross_span" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
      val hist = docs.where(pmod(col("doc_id"), lit(2L)) === 0)
      val batch = docs.where(pmod(col("doc_id"), lit(2L)) === 1)
      val merged = SuffixArray.crossSpanIndexMerge(
        SuffixArray.crossSpanIndex(hist, "doc_id", "text", "source",
          minLen = CrossSpanMinLen),
        SuffixArray.crossSpanIndex(batch, "doc_id", "text", "source",
          minLen = CrossSpanMinLen))
      SuffixArray.crossDocSpanRemovalFromIndex(docs, merged,
          "doc_id", "text", "source", minLen = CrossSpanMinLen)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("n_kept_chars"), md5(col("cleaned")).as("cleaned_md5"))
        .orderBy("doc_id")
    }),

    // d35 at a WIDE threshold: the same literal gram carrier against
    // the SAME definitional oracle d35 uses at minLen=20, so the
    // 40-char keys on the data-sized shuffles sit on an oracle-checked
    // path too (not just the property spec)
    "d37_wide_cross_span" -> ((s, d) => {
      SuffixArray.crossDocSpanRemoval(Tables.load(s, d, "documents"),
          "doc_id", "text", "source", minLen = WideCrossSpanMinLen)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("n_kept_chars"), md5(col("cleaned")).as("cleaned_md5"))
        .orderBy("doc_id")
    }),

    // SemDeDup: k-means clusters bound the pairwise cosine search
    // (candidates = Σ|cluster|², n²/k expected; the paper scales k with
    // n to keep clusters bounded). Training is s08's deterministic
    // integer Lloyd; the oracle replays it via the shared CTE chain.
    // Like d05, the corpus is unioned with an id-shifted copy of itself
    // so true semantic duplicates exist (the raw synthetic embeddings
    // top out near cosine 0.5) — every +100000 row must be flagged
    // against its lower-id twin, keeping the gate non-vacuous.
    "d13_semantic_dedup" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings").select("vec_id", "embedding")
      // the +100000 shift and the oracle's must agree AND stay disjoint
      // from real ids: a collision would silently break the 'every twin
      // flagged' non-vacuity gate in BOTH engines at once (the compare
      // stays green while verifying nothing), so fail loudly instead
      val maxId = e.agg(max("vec_id")).head().getLong(0)
      require(maxId < 100000,
        s"d13's twin-id shift collides: max(vec_id)=$maxId >= 100000 — " +
          "raise the shift in the query AND its oracle together")
      val all = e.unionByName(
        e.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      Dedup.semDedup(all).orderBy("vec_id")
    }),
  )

  // --- oracle SQL, sharing literal params with the Spark plans -------------

  private val d27OracleSql: String =
      s"""WITH nn AS (SELECT doc_id, source, text, length(text) AS n
         |  FROM documents WHERE text IS NOT NULL),
         |bd AS (SELECT doc_id, source, text, n,
         |    ${graft.functions.TextHashExpressions.cdcBoundsSql(Dedup.CdcW, Dedup.CdcDivisor)} AS bnds
         |  FROM nn),
         |we AS (SELECT doc_id, source, text, n,
         |    CASE WHEN n = 0 THEN bnds
         |         WHEN len(bnds) > 0 AND bnds[len(bnds)] = n THEN bnds
         |         ELSE list_append(bnds, n) END AS ends
         |  FROM bd),
         |ck AS (SELECT source, u.c AS chunk FROM we,
         |    unnest(list_transform(range(1, len(ends) + 1), i ->
         |      substr(text,
         |        (CASE WHEN i = 1 THEN 0 ELSE ends[i - 1] END + 1)::INT,
         |        (ends[i] - CASE WHEN i = 1 THEN 0 ELSE ends[i - 1] END)::INT)))
         |      AS u(c)),
         |grp AS (SELECT source, md5(chunk) AS h, count(*) AS cnt,
         |    min(length(chunk)) AS len
         |  FROM ck GROUP BY 1, 2),
         |st AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_chunks,
         |    count(*) AS n_distinct_chunks,
         |    CAST(sum(cnt * len) AS BIGINT) AS total_chars,
         |    CAST(sum((cnt - 1) * len) AS BIGINT) AS dup_chars
         |  FROM grp GROUP BY source),
         |base AS (SELECT source, count(*) AS n_docs FROM nn GROUP BY source)
         |SELECT b.source AS source, n_docs,
         |  COALESCE(n_chunks, 0) AS n_chunks,
         |  COALESCE(n_distinct_chunks, 0) AS n_distinct_chunks,
         |  COALESCE(total_chars, 0) AS total_chars,
         |  COALESCE(dup_chars, 0) AS dup_chars
         |FROM base b LEFT JOIN st USING (source) ORDER BY source""".stripMargin


  /** d29: grams via the direct polynomial, selection via the rightmost-
    * window-min statement, shared = selected by >= 2 docs — the literal
    * k/w parameters ride in from the same builders the engine uses.
    */
  private val d29OracleSql: String =
    s"""WITH nn AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
       |g AS (SELECT doc_id, greatest(length(text) - ${Dedup.WinnowK - 1}, 0) AS n_grams,
       |    ${graft.functions.TextHashExpressions.winnowGramsSql(Dedup.WinnowK)} AS gs
       |  FROM nn),
       |sel AS (SELECT doc_id, n_grams, gs,
       |    ${graft.functions.TextHashExpressions.winnowSelectSql(Dedup.WinnowW)} AS ps
       |  FROM g),
       |fp AS (SELECT doc_id, gs[u.p::INT] AS h FROM sel, unnest(ps) AS u(p)),
       |sh AS (SELECT h FROM fp GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
       |cnt AS (SELECT f.doc_id, count(*) AS n_fingerprints,
       |    count(*) FILTER (WHERE s.h IS NOT NULL) AS n_shared_fp
       |  FROM fp f LEFT JOIN (SELECT h, true AS x FROM sh) s USING (h)
       |  GROUP BY f.doc_id)
       |SELECT g.doc_id AS doc_id, g.n_grams AS n_grams,
       |  COALESCE(cnt.n_fingerprints, 0) AS n_fingerprints,
       |  COALESCE(cnt.n_shared_fp, 0) AS n_shared_fp
       |FROM g LEFT JOIN cnt USING (doc_id) ORDER BY doc_id""".stripMargin

  /** d30: the suffix-array DEFINITION — per document, rank each suffix
    * by its full string (all suffixes of a document are pairwise
    * distinct, so rank/dense_rank/row_number coincide). The engine
    * must reproduce this order from rank arithmetic alone.
    */
  private val d30OracleSql: String =
    """WITH nn AS (SELECT doc_id, text FROM documents
      |  WHERE text IS NOT NULL AND length(text) >= 1),
      |p AS (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS pos
      |  FROM nn)
      |SELECT doc_id, CAST(pos AS INT) AS pos,
      |  CAST(rank() OVER (PARTITION BY doc_id
      |    ORDER BY substr(text, pos::INT)) AS BIGINT) AS suffix_rank
      |FROM p ORDER BY doc_id, pos""".stripMargin

  /** d31: longest repeated substring stated through the same
    * rank-adjacency identity the engine uses — lag() over suffix order
    * is the rank-1 neighbor — with the LCP as the first differing
    * character position (list arithmetic, no UDF).
    */
  private val d31OracleSql: String =
    """WITH nn AS (SELECT doc_id, text FROM documents
      |  WHERE text IS NOT NULL AND length(text) >= 1),
      |p AS (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS pos
      |  FROM nn),
      |s AS (SELECT doc_id, substr(text, pos::INT) AS suf FROM p),
      |o AS (SELECT doc_id, suf,
      |    lag(suf) OVER (PARTITION BY doc_id ORDER BY suf) AS prev
      |  FROM s),
      |l AS (SELECT doc_id, suf,
      |    CASE WHEN prev IS NULL THEN 0 ELSE COALESCE(
      |      list_min(list_filter(
      |        generate_series(1, least(length(suf), length(prev))),
      |        k -> substr(suf, k::INT, 1) != substr(prev, k::INT, 1))) - 1,
      |      least(length(suf), length(prev))) END AS lcp
      |  FROM o),
      |m AS (SELECT doc_id, CAST(max(lcp) AS BIGINT) AS lrs_len FROM l
      |  GROUP BY doc_id)
      |SELECT l.doc_id AS doc_id, m.lrs_len AS lrs_len,
      |  min(substr(l.suf, 1, m.lrs_len::INT)) AS lrs
      |FROM l JOIN m ON l.doc_id = m.doc_id AND l.lcp = m.lrs_len
      |GROUP BY l.doc_id, m.lrs_len ORDER BY doc_id""".stripMargin

  /** d32: the generalized-suffix-array statement — per source, the
    * chr(1)-joined doc_id-ordered concatenation, suffixes at REAL
    * (non-sentinel) positions ordered as strings, lag() giving the
    * rank-adjacent neighbor with its owning doc, LCP as list
    * arithmetic, max restricted to cross-document pairs.
    */
  /** The d32 CTE chain over any (source, doc_id, text) relation —
    * shared by the d32 oracle AND the p07 funnel oracle (the
    * containmentVerCtes three-consumer pattern), so the funnel's
    * exact pass and the standalone operator cannot drift. Yields
    * `cdex(source, cross_len, witness)` for every source of `rel`
    * with >= 1 non-empty text.
    */
  private[queries] def crossDocCtes(rel: String): String =
    s"""cdnn AS (SELECT source, doc_id, text FROM $rel
       |  WHERE text IS NOT NULL AND length(text) >= 1),
       |cdcat AS (SELECT source, string_agg(text, chr(1) ORDER BY doc_id) AS t
       |  FROM cdnn GROUP BY source),
       |cdoff AS (SELECT source, doc_id, text,
       |    COALESCE(sum(length(text) + 1) OVER (PARTITION BY source
       |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND 1 PRECEDING), 0) AS off
       |  FROM cdnn),
       |cdp AS (SELECT o.source, o.doc_id, o.off + u.i AS gpos
       |  FROM cdoff o, unnest(generate_series(1, length(o.text))) u(i)),
       |cds AS (SELECT p.source, p.doc_id, p.gpos,
       |    substr(c.t, p.gpos::INT) AS suf
       |  FROM cdp p JOIN cdcat c USING (source)),
       |cdo AS (SELECT source, doc_id, suf,
       |    lag(suf) OVER (PARTITION BY source ORDER BY suf) AS prev,
       |    lag(doc_id) OVER (PARTITION BY source ORDER BY suf) AS prev_doc
       |  FROM cds),
       |cdl AS (SELECT source, suf,
       |    CASE WHEN prev IS NULL OR prev_doc = doc_id THEN 0 ELSE COALESCE(
       |      list_min(list_filter(
       |        generate_series(1, least(length(suf), length(prev))),
       |        k -> substr(suf, k::INT, 1) != substr(prev, k::INT, 1))) - 1,
       |      least(length(suf), length(prev))) END AS lcp
       |  FROM cdo),
       |cdm AS (SELECT source, CAST(max(lcp) AS BIGINT) AS cross_len FROM cdl
       |  GROUP BY source),
       |cdex AS (SELECT l.source AS source, m.cross_len AS cross_len,
       |    min(substr(l.suf, 1, m.cross_len::INT)) AS witness
       |  FROM cdl l JOIN cdm m ON l.source = m.source AND l.lcp = m.cross_len
       |  GROUP BY l.source, m.cross_len)""".stripMargin

  private val d32OracleSql: String =
    s"""WITH ${crossDocCtes("documents")}
       |SELECT source, cross_len, witness FROM cdex ORDER BY source""".stripMargin

  /** d34's span threshold: shared by the Spark plan and the oracle
    * below (median lrs_len at the verify SF is 12, so the rewrite is
    * non-vacuous on ~60% of documents).
    */
  private val RepeatSpanMinLen = 12

  /** d35's span threshold: shared by the Spark plan and the oracle.
    * At the verify SF, 20-char multi-doc windows cover positions in
    * ~42% of documents (12 would cut ~100%, 24 only ~4% — both
    * near-vacuous gates).
    */
  private val CrossSpanMinLen = 20

  /** d37's span threshold: twice d35's window, so the gram carrier
    * ships 40-char keys. At the verify SF exactly 2 of 500 docs carry
    * ≥40-char cross-doc spans (the planted near-exact pair) — thin but
    * non-vacuous in BOTH directions, and the md5 gate verifies all
    * 500 rewrites byte-for-byte.
    */
  private val WideCrossSpanMinLen = 40

  /** d35/d37: the definitional statement — per source, a position is
    * covered iff some minLen-window containing it occurs in >= 2
    * DISTINCT documents of that source (the gram-coverage identity's
    * right-hand side, which the engine's scaladoc proves equal to
    * "every cross-doc repeated span of length >= minLen"); the
    * cleaned text as the ordered uncovered chars, digested to md5
    * (the d34 shape with a cross-doc witness condition). The oracle
    * knows nothing of carriers — the SAME definitional SQL at both
    * thresholds is exactly what makes d37 a carrier-equivalence gate.
    */
  private def crossSpanOracleSql(minLen: Int): String =
    s"""WITH nn AS (SELECT source, doc_id, text FROM documents
       |  WHERE text IS NOT NULL),
       |p AS (SELECT source, doc_id, text, unnest(generate_series(1, length(text))) AS pos
       |  FROM nn WHERE length(text) >= 1),
       |g AS (SELECT source, doc_id, pos,
       |    substr(text, pos::INT, $minLen) AS gram
       |  FROM p WHERE pos <= length(text) - ${minLen - 1}),
       |md AS (SELECT source, gram FROM g GROUP BY 1, 2
       |  HAVING count(DISTINCT doc_id) >= 2),
       |st AS (SELECT g.doc_id, g.pos FROM g JOIN md
       |  ON g.source = md.source AND g.gram = md.gram),
       |cov AS (SELECT DISTINCT doc_id, pos + u.i AS cp FROM st,
       |  unnest(generate_series(0, ${minLen - 1})) u(i)),
       |ch AS (SELECT p.doc_id, p.pos, substr(p.text, p.pos::INT, 1) AS c,
       |    cov.cp IS NOT NULL AS covered
       |  FROM p LEFT JOIN cov ON p.doc_id = cov.doc_id AND p.pos = cov.cp),
       |k AS (SELECT doc_id,
       |    CAST(count(*) AS BIGINT) AS n_chars,
       |    CAST(count(*) FILTER (WHERE NOT covered) AS BIGINT) AS n_kept_chars,
       |    md5(COALESCE(string_agg(c, '' ORDER BY pos)
       |      FILTER (WHERE NOT covered), '')) AS cleaned_md5
       |  FROM ch GROUP BY doc_id)
       |SELECT nn.doc_id AS doc_id, nn.source AS source,
       |  COALESCE(k.n_chars, 0) AS n_chars,
       |  COALESCE(k.n_kept_chars, 0) AS n_kept_chars,
       |  COALESCE(k.cleaned_md5, md5('')) AS cleaned_md5
       |FROM nn LEFT JOIN k USING (doc_id) ORDER BY doc_id""".stripMargin

  private val d35OracleSql: String = crossSpanOracleSql(CrossSpanMinLen)

  /** d34: spans stated from the same lag()-over-suffix-order LCPs as
    * d31, BOTH sides of each adjacent pair, coverage as a distinct
    * position set, the cleaned text as the ordered uncovered chars.
    */
  private val d34OracleSql: String =
    s"""WITH nn AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
       |p AS (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS pos
       |  FROM nn WHERE length(text) >= 1),
       |s AS (SELECT doc_id, pos, substr(text, pos::INT) AS suf FROM p),
       |o AS (SELECT doc_id, pos, suf,
       |    lag(suf) OVER (PARTITION BY doc_id ORDER BY suf) AS prev,
       |    lag(pos) OVER (PARTITION BY doc_id ORDER BY suf) AS prev_pos
       |  FROM s),
       |l AS (SELECT doc_id, pos, prev_pos,
       |    CASE WHEN prev IS NULL THEN 0 ELSE COALESCE(
       |      list_min(list_filter(
       |        generate_series(1, least(length(suf), length(prev))),
       |        k -> substr(suf, k::INT, 1) != substr(prev, k::INT, 1))) - 1,
       |      least(length(suf), length(prev))) END AS lcp
       |  FROM o),
       |sp AS (SELECT doc_id, pos AS st, lcp FROM l WHERE lcp >= $RepeatSpanMinLen
       |  UNION ALL
       |  SELECT doc_id, prev_pos AS st, lcp FROM l WHERE lcp >= $RepeatSpanMinLen),
       |cov AS (SELECT DISTINCT doc_id, st + u.i AS cp FROM sp,
       |  unnest(generate_series(0, lcp - 1)) u(i)),
       |ch AS (SELECT p.doc_id, p.pos, substr(p.text, p.pos::INT, 1) AS c,
       |    cov.cp IS NOT NULL AS covered
       |  FROM p LEFT JOIN cov ON p.doc_id = cov.doc_id AND p.pos = cov.cp),
       |k AS (SELECT doc_id,
       |    CAST(count(*) AS BIGINT) AS n_chars,
       |    CAST(count(*) FILTER (WHERE NOT covered) AS BIGINT) AS n_kept_chars,
       |    md5(COALESCE(string_agg(c, '' ORDER BY pos)
       |      FILTER (WHERE NOT covered), '')) AS cleaned_md5
       |  FROM ch GROUP BY doc_id)
       |SELECT nn.doc_id AS doc_id,
       |  COALESCE(k.n_chars, 0) AS n_chars,
       |  COALESCE(k.n_kept_chars, 0) AS n_kept_chars,
       |  COALESCE(k.cleaned_md5, md5('')) AS cleaned_md5
       |FROM nn LEFT JOIN k USING (doc_id) ORDER BY doc_id""".stripMargin

  private val mhExprs: String = Dedup.minHashParams.zipWithIndex.map {
    case ((a, b), i) =>
      s"list_min(list_transform(hs, h -> (h * $a + $b) % ${Dedup.MinHashP})) AS m$i"
  }.mkString(",\n    ")

  private def bandSelects(p: String): String = (0 until Dedup.Bands).map { bi =>
    val ks = (0 until Dedup.Rows).map(r => s"m${bi * Dedup.Rows + r}").mkString(", ")
    s"SELECT doc_id, $bi AS band_idx, concat_ws('_', $ks) AS band_key FROM ${p}mh"
  }.mkString("\n  UNION ALL ")

  private val simBitSums: String = (0 until Dedup.SimHashBits).map { j =>
    s"CAST(sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s$j"
  }.mkString(",\n    ")

  private val simAssemble: String = (0 until Dedup.SimHashBits).map { j =>
    s"CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END"
  }.mkString(" + ")

  /** The engine's fused polynomial shingle hash (ShingleHash32) stated
    * literally: Σ code(text[i+j]) * 31^(k-1-j) mod 2^32, chars past the
    * end contributing 0. Exact integer arithmetic in both engines.
    */
  private val shinglePoly: String =
    graft.functions.TextHashExpressions.polyPowers(Dedup.ShingleK).zipWithIndex.map {
      case (pw, j) =>
        s"CAST(CASE WHEN i + $j <= length(text) THEN ord(substr(text, (i + $j)::INT, 1)) ELSE 0 END AS BIGINT) * $pw"
    }.mkString("(", " + ", ") % 4294967296")

  /** The containment-verify chain over any (doc_id, text) relation:
    * distinct shingle tokens -> global (df, token) order -> probe
    * prefix -> prefix × full-token candidates -> verified (id_a, id_b,
    * inter, n_a), tau fixed at 9/10. Shared by d21, d22 AND the p05
    * pipeline oracle (the d06/d07 pattern at three consumers), so
    * detection, the rewrite, and the composed flow cannot drift.
    */
  /** The containment verify chain AFTER the `toks(id, tok)` CTE —
    * shared by the plain (d21/d22) and block-qualified (d26) corpora,
    * which differ only in how `toks` is built.
    */
  private def containmentVerTail: String =
    s"""dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY 1),
       |sized AS (SELECT id, count(*) AS n FROM toks GROUP BY 1),
       |ranked AS (SELECT t.id, t.tok, s.n,
       |    row_number() OVER (PARTITION BY t.id ORDER BY d.df, t.tok) AS rn
       |  FROM toks t JOIN dfreq d USING (tok) JOIN sized s USING (id)),
       |prefix AS (SELECT id, tok FROM ranked
       |  WHERE rn <= n - ((9 * n + 9) // 10) + 1),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM prefix a JOIN toks b ON a.tok = b.tok AND a.id <> b.id),
       |arrs AS (SELECT id, list_sort(list(tok)) AS ts FROM toks GROUP BY 1),
       |ver AS (SELECT c.id_a, c.id_b,
       |    len(list_intersect(a.ts, b.ts)) AS inter,
       |    len(a.ts) AS n_a
       |  FROM cand c JOIN arrs a ON a.id = c.id_a JOIN arrs b ON b.id = c.id_b)""".stripMargin

  private[queries] def containmentVerCtes(rel: String): String =
    s"""toks AS (SELECT DISTINCT doc_id AS id,
       |    unnest(list_transform(generate_series(1, greatest(length(text) - ${Dedup.ShingleK - 1}, 1), ${Dedup.ShingleStride}),
       |      i -> $shinglePoly)) AS tok
       |  FROM $rel),
       |$containmentVerTail""".stripMargin

  /** d26's block-qualified twin: tok ↦ blockKey·2³² + tok over a
    * relation carrying `source` — the engine's `blockBy` rule
    * restated verbatim (md5-derived 32-bit key, disjoint token
    * spaces per block), so the whole verify chain is reused.
    */
  private def containmentVerCtesBlocked(rel: String): String =
    s"""rawtoks AS (SELECT DISTINCT doc_id AS id,
       |    ('0x' || substr(md5(source), 1, 8))::BIGINT % 2147483648 AS bkey,
       |    unnest(list_transform(generate_series(1, greatest(length(text) - ${Dedup.ShingleK - 1}, 1), ${Dedup.ShingleStride}),
       |      i -> $shinglePoly)) AS tok0
       |  FROM $rel),
       |toks AS (SELECT DISTINCT id, bkey * 4294967296 + tok0 AS tok
       |  FROM rawtoks),
       |$containmentVerTail""".stripMargin

  /** d21/d22 shared chain: the excerpt corpus + the verify chain. */
  private val containmentCtes: String =
    s"""all_docs AS (SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000,
       |    substr(text, 1, greatest(length(text) // 2, 8)) FROM documents),
       |${containmentVerCtes("all_docs")}""".stripMargin

  /** The sh -> mh -> bands CTE chain over any relation with
    * (doc_id, text), CTE names prefixed with `p` so two corpora can be
    * banded side by side in one statement (c08 decontamination).
    */
  private[queries] def bandsCtesFor(rel: String, p: String = ""): String =
    s"""${p}sh AS (SELECT doc_id,
       |  list_transform(generate_series(1, greatest(length(text) - ${Dedup.ShingleK - 1}, 1), ${Dedup.ShingleStride}),
       |    i -> $shinglePoly) AS hs
       |  FROM $rel),
       |${p}mh AS (SELECT doc_id,
       |    $mhExprs
       |  FROM ${p}sh),
       |${p}bands AS (
       |  ${bandSelects(p)})""".stripMargin

  /** Shared CTE chain: mutated corpus -> shingle hashes -> minhash
    * signatures -> band buckets -> distinct candidate pairs. Used by
    * both the pair query (d02) and the clustering query (d06).
    */
  private[queries] def minhashPairsCtes: String =
    s"""$mutationsCte,
       |${bandsCtesFor("all_docs")},
       |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id)""".stripMargin

  /** The d19 CTE chain through the maximal-duplicated-span relation
    * (`spans(doc_id, span_start, span_end)`), shared by the d19 and
    * d20 oracles — the detection and the rewrite must agree on the
    * spans or the pair drifts.
    */
  private def exactSpanCtes(l: Int): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS ts
       |  FROM documents WHERE text IS NOT NULL),
       |sh AS (SELECT doc_id,
       |    generate_series(1, len(ts) - ${l - 1}) AS ss,
       |    list_transform(generate_series(1, len(ts) - ${l - 1}),
       |      i -> array_to_string(list_slice(ts, i, i + ${l - 1}), ' ')) AS gs
       |  FROM toks WHERE len(ts) >= $l),
       |grams AS (SELECT doc_id, CAST(unnest(ss) - 1 AS BIGINT) AS pos,
       |    unnest(gs) AS gram FROM sh),
       |dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
       |starts AS (SELECT doc_id, pos FROM grams JOIN dup USING (gram)),
       |brk AS (SELECT doc_id, pos,
       |    CASE WHEN pos > coalesce(max(pos + $l) OVER (PARTITION BY doc_id
       |      ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      -1) THEN 1 ELSE 0 END AS b
       |  FROM starts),
       |isl AS (SELECT doc_id, pos,
       |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM brk),
       |spans AS (SELECT doc_id, min(pos) AS span_start,
       |    max(pos) + $l AS span_end
       |  FROM isl GROUP BY doc_id, island)""".stripMargin

  /** ONE clustering oracle (components of the pair relation) shared by
    * d06 and d07 — the two engines' clustering forms must stay checked
    * against the identical statement or a future oracle fix could
    * silently apply to only one of them.
    */
  private def clusteringOracle: String =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |walk(src, dst) AS (
       |  SELECT src, dst FROM sym
       |  UNION
       |  SELECT w.src, s.dst FROM walk w JOIN sym s ON w.dst = s.src),
       |labels AS (SELECT src AS id, least(src, min(dst)) AS label
       |  FROM walk GROUP BY src)
       |SELECT label AS canonical_id, count(*) AS cluster_size
       |FROM labels GROUP BY 1 ORDER BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "d01_exact_dedup" ->
      s"""WITH $copiesCte
         |SELECT md5(lower(trim(text))) AS fingerprint, min(doc_id) AS canonical_id,
         |  count(*) AS n_copies
         |FROM all_docs GROUP BY 1 ORDER BY canonical_id""".stripMargin,

    "d02_minhash_lsh" ->
      s"""WITH $minhashPairsCtes
         |SELECT id_a, id_b FROM pairs ORDER BY id_a, id_b""".stripMargin,

    // the full corpus's pair relation restricted to pairs touching the
    // batch == (batch x history) ∪ (batch x batch) — exactly what the
    // incremental probe computes without rescanning history
    "d16_incremental_lsh" ->
      s"""WITH nn AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
         |hist AS (SELECT doc_id, text FROM nn WHERE doc_id % 3 <> 0),
         |batch AS (SELECT doc_id, text FROM nn WHERE doc_id % 3 = 0
         |  UNION ALL SELECT doc_id + 1000000, text || ' spark' FROM hist
         |    WHERE doc_id % 10 = 1
         |  UNION ALL SELECT doc_id + 2000000, text || ' spark' FROM nn
         |    WHERE doc_id % 3 = 0 AND doc_id % 10 = 2),
         |all2 AS (SELECT doc_id, text FROM hist
         |  UNION ALL SELECT doc_id, text FROM batch),
         |${bandsCtesFor("all2")},
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |      AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b FROM pairs
         |WHERE id_a IN (SELECT doc_id FROM batch)
         |   OR id_b IN (SELECT doc_id FROM batch)
         |ORDER BY id_a, id_b""".stripMargin,

    // signature-position matches from the m0..m15 columns; exact
    // Jaccard from the distinct shingle-hash sets — same sh relation
    "d18_minhash_estimate" -> {
      val matchSum = (0 until Dedup.Bands * Dedup.Rows)
        .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
        .mkString("\n      + ")
      s"""WITH $minhashPairsCtes,
         |sets AS (SELECT doc_id, list_distinct(hs) AS st FROM sh),
         |x AS (SELECT p.id_a AS id_a, p.id_b AS id_b,
         |    CAST($matchSum AS BIGINT) AS est_matches,
         |    CAST(length(list_intersect(s1.st, s2.st)) AS BIGINT) AS inter,
         |    CAST(length(s1.st) AS BIGINT) AS na,
         |    CAST(length(s2.st) AS BIGINT) AS nb
         |  FROM pairs p
         |  JOIN mh sa ON sa.doc_id = p.id_a
         |  JOIN mh sb ON sb.doc_id = p.id_b
         |  JOIN sets s1 ON s1.doc_id = p.id_a
         |  JOIN sets s2 ON s2.doc_id = p.id_b)
         |SELECT id_a, id_b, est_matches,
         |  CAST(est_matches AS DOUBLE) / 16.0 AS est_jaccard,
         |  CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)
         |    AS exact_jaccard,
         |  abs(CAST(est_matches AS DOUBLE) / 16.0
         |    - CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE))
         |    AS est_error
         |FROM x ORDER BY id_a, id_b""".stripMargin
    },

    // the DIRECT walk over d16's full corpus — what the incremental
    // label-graph contraction must reproduce exactly
    "d17_incremental_clusters" ->
      s"""WITH RECURSIVE nn AS (SELECT doc_id, text FROM documents
         |  WHERE text IS NOT NULL),
         |hist AS (SELECT doc_id, text FROM nn WHERE doc_id % 3 <> 0),
         |batch AS (SELECT doc_id, text FROM nn WHERE doc_id % 3 = 0
         |  UNION ALL SELECT doc_id + 1000000, text || ' spark' FROM hist
         |    WHERE doc_id % 10 = 1
         |  UNION ALL SELECT doc_id + 2000000, text || ' spark' FROM nn
         |    WHERE doc_id % 3 = 0 AND doc_id % 10 = 2),
         |all2 AS (SELECT doc_id, text FROM hist
         |  UNION ALL SELECT doc_id, text FROM batch),
         |${bandsCtesFor("all2")},
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |      AND a.doc_id < b.doc_id),
         |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |walk(src, dst) AS (
         |  SELECT src, dst FROM sym
         |  UNION
         |  SELECT w.src, s.dst FROM walk w JOIN sym s ON w.dst = s.src),
         |labels AS (SELECT src AS id, least(src, min(dst)) AS label
         |  FROM walk GROUP BY src)
         |SELECT label AS canonical_id, count(*) AS cluster_size
         |FROM labels GROUP BY 1 ORDER BY 1""".stripMargin,

    "d09_incremental_dedup" ->
      """WITH nn AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |hist AS (SELECT doc_id, text FROM nn WHERE doc_id % 3 <> 0),
        |tbase AS (SELECT doc_id, text FROM nn WHERE doc_id % 3 = 0),
        |today AS (SELECT doc_id, text FROM tbase
        |  UNION ALL SELECT doc_id + 2000000, text FROM hist WHERE doc_id % 5 = 0
        |  UNION ALL SELECT doc_id + 3000000, text FROM tbase WHERE doc_id % 4 = 0),
        |grp AS (SELECT md5(lower(trim(text))) AS fingerprint,
        |    min(doc_id) AS canonical_id, count(*) AS n_copies
        |  FROM today GROUP BY 1)
        |SELECT fingerprint, canonical_id, n_copies FROM grp
        |WHERE fingerprint NOT IN (SELECT md5(lower(trim(text))) FROM hist)
        |ORDER BY canonical_id""".stripMargin,

    "d06_neardup_clusters" -> clusteringOracle,

    // d07 computes the SAME clusters via bipartite doc<->bucket edges;
    // hash-matching the pair-relation oracle proves the equivalence
    "d07_clusters_via_buckets" -> clusteringOracle,

    "d03_simhash" -> {
      val bandRows = (0 until Dedup.SimHashBands).map { bi =>
        s"SELECT doc_id, simhash, $bi AS band_idx, (simhash >> ${bi * 8}) & 255 AS band_key FROM sh"
      }.mkString("\n  UNION ALL ")
      s"""WITH $mutationsCte,
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM all_docs),
         |th0 AS (SELECT doc_id, ${graft.functions.TextHashExpressions.tokenFoldSql("w")} AS h0 FROM tok),
         |f1 AS (SELECT doc_id, xor(h0, h0 >> 16) AS h1 FROM th0),
         |f2 AS (SELECT doc_id, CAST((CAST(h1 AS HUGEINT) * 2246822507) % 4294967296 AS BIGINT) AS h2 FROM f1),
         |f3 AS (SELECT doc_id, xor(h2, h2 >> 13) AS h3 FROM f2),
         |f4 AS (SELECT doc_id, CAST((CAST(h3 AS HUGEINT) * 3266489909) % 4294967296 AS BIGINT) AS h4 FROM f3),
         |th AS (SELECT doc_id, xor(h4, h4 >> 16) AS h FROM f4),
         |sums AS (SELECT doc_id,
         |    $simBitSums
         |  FROM th GROUP BY doc_id),
         |sh AS (SELECT doc_id, $simAssemble AS simhash FROM sums),
         |bands AS (
         |  $bandRows),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.simhash AS sh_a, b.simhash AS sh_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
         |ORDER BY id_a, id_b""".stripMargin
    },

    "d04_ngram_jaccard" ->
      s"""WITH $mutationsCte,
         |docs2 AS (SELECT doc_id,
         |    source || '|' || CAST(len(string_split(text, ' ')) // 10 AS VARCHAR) AS blk,
         |    string_split(text, ' ') AS ws
         |  FROM all_docs
         |  WHERE length(text) - length(replace(text, ' ', '')) + 1 >= 2),
         |all_grams AS (SELECT DISTINCT doc_id, blk,
         |    unnest(${graft.functions.TextHashExpressions.bigramFoldSql("ws")}) AS g
         |  FROM docs2),
         |rare AS (SELECT blk, g FROM all_grams
         |  GROUP BY 1, 2 HAVING count(*) <= ${Dedup.NgramMaxDocFreq}),
         |grams AS (SELECT ag.doc_id, ag.blk, ag.g FROM all_grams ag
         |  JOIN rare r ON ag.blk = r.blk AND ag.g = r.g),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM grams a JOIN grams b
         |    ON a.blk = b.blk AND a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  inter / CAST(sa.n + sb.n - inter AS DOUBLE) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = id_a
         |JOIN sizes sb ON sb.doc_id = id_b
         |WHERE inter / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    // prefix-filter replay: the same global (df, token) order, the
    // same integer prefix length, candidates from prefix-token
    // matches only, and the same cross-multiplied integer threshold —
    // the final division only formats an already-made decision
    "d11_prefix_filter_join" ->
      s"""WITH $mutationsCte,
         |toks AS (SELECT DISTINCT doc_id AS id,
         |    unnest(list_transform(generate_series(1, greatest(length(text) - ${Dedup.ShingleK - 1}, 1), ${Dedup.ShingleStride}),
         |      i -> $shinglePoly)) AS tok
         |  FROM all_docs),
         |dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY 1),
         |sized AS (SELECT id, count(*) AS n FROM toks GROUP BY 1),
         |ranked AS (SELECT t.id, t.tok, s.n,
         |    row_number() OVER (PARTITION BY t.id ORDER BY d.df, t.tok) AS rn
         |  FROM toks t JOIN dfreq d USING (tok) JOIN sized s USING (id)),
         |prefix AS (SELECT id, tok FROM ranked
         |  WHERE rn <= n - ((9 * n + 9) // 10) + 1),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM prefix a JOIN prefix b ON a.tok = b.tok AND a.id < b.id),
         |arrs AS (SELECT id, list_sort(list(tok)) AS ts FROM toks GROUP BY 1),
         |ver AS (SELECT c.id_a, c.id_b,
         |    len(list_intersect(a.ts, b.ts)) AS inter,
         |    len(a.ts) AS n_a, len(b.ts) AS n_b
         |  FROM cand c JOIN arrs a ON a.id = c.id_a JOIN arrs b ON b.id = c.id_b)
         |SELECT id_a, id_b,
         |  inter / CAST(n_a + n_b - inter AS DOUBLE) AS jaccard
         |FROM ver
         |WHERE inter * 10 >= (n_a + n_b - inter) * 9
         |ORDER BY id_a, id_b""".stripMargin,

    // containment replay: same global (df, token) order, same probe
    // prefix, candidates = prefix × FULL token relation (the
    // asymmetric form), same integer threshold inter·10 >= n_a·9 —
    // the division only formats an already-made decision
    "d21_containment_join" ->
      s"""WITH $containmentCtes
         |SELECT id_a, id_b,
         |  inter / CAST(n_a AS DOUBLE) AS containment
         |FROM ver
         |WHERE inter * 10 >= n_a * 9
         |ORDER BY id_a, id_b""".stripMargin,

    // the blocked replay: same excerpt corpus carrying source, tokens
    // block-qualified bkey·2³² + tok, then the identical verify chain —
    // cross-source pairs share no qualified tokens BY CONSTRUCTION
    "d26_blocked_containment" ->
      s"""WITH all_docs AS (SELECT doc_id, text, source FROM documents
         |  UNION ALL SELECT doc_id + 1000000,
         |    substr(text, 1, greatest(length(text) // 2, 8)), source
         |  FROM documents),
         |${containmentVerCtesBlocked("all_docs")}
         |SELECT id_a, id_b,
         |  inter / CAST(n_a AS DOUBLE) AS containment
         |FROM ver
         |WHERE inter * 10 >= n_a * 9
         |ORDER BY id_a, id_b""".stripMargin,

    // frozen-order replay: history prefixes under (hist-df, tok),
    // batch prefixes under (COALESCE(hist-df, 0), tok), the same three
    // candidate directions, the same integer threshold
    "d24_incremental_containment" -> {
      val tokExpr =
        s"""unnest(list_transform(generate_series(1, greatest(length(text) - ${Dedup.ShingleK - 1}, 1), ${Dedup.ShingleStride}),
           |      i -> $shinglePoly))""".stripMargin
      s"""WITH nn AS (SELECT doc_id, text FROM documents
         |  WHERE text IS NOT NULL),
         |hist AS (SELECT doc_id, text FROM nn WHERE doc_id % 3 <> 0),
         |batch AS (SELECT doc_id, text FROM nn WHERE doc_id % 3 = 0
         |  UNION ALL SELECT doc_id + 1000000,
         |    substr(text, 1, greatest(length(text) // 2, 8))
         |    FROM hist WHERE doc_id % 10 = 1
         |  UNION ALL SELECT doc_id + 2000000,
         |    substr(text, 1, greatest(length(text) // 2, 8))
         |    FROM nn WHERE doc_id % 3 = 0 AND doc_id % 10 = 2
         |  UNION ALL SELECT doc_id + 3000000, text || ' ' || text
         |    FROM hist WHERE doc_id % 10 = 3),
         |htoks AS (SELECT DISTINCT doc_id AS id, $tokExpr AS tok FROM hist),
         |btoks AS (SELECT DISTINCT doc_id AS id, $tokExpr AS tok FROM batch),
         |hdf AS (SELECT tok, count(*) AS df FROM htoks GROUP BY 1),
         |hranked AS (SELECT t.id, t.tok, s.n,
         |    row_number() OVER (PARTITION BY t.id ORDER BY d.df, t.tok) AS rn
         |  FROM htoks t JOIN hdf d USING (tok)
         |  JOIN (SELECT id, count(*) AS n FROM htoks GROUP BY 1) s USING (id)),
         |hprefix AS (SELECT id, tok FROM hranked
         |  WHERE rn <= n - ((9 * n + 9) // 10) + 1),
         |branked AS (SELECT t.id, t.tok, s.n,
         |    row_number() OVER (PARTITION BY t.id
         |      ORDER BY COALESCE(d.df, 0), t.tok) AS rn
         |  FROM btoks t LEFT JOIN hdf d USING (tok)
         |  JOIN (SELECT id, count(*) AS n FROM btoks GROUP BY 1) s USING (id)),
         |bprefix AS (SELECT id, tok FROM branked
         |  WHERE rn <= n - ((9 * n + 9) // 10) + 1),
         |cand AS (SELECT DISTINCT id_a, id_b FROM (
         |  SELECT a.id AS id_a, b.id AS id_b
         |    FROM bprefix a JOIN htoks b ON a.tok = b.tok
         |  UNION ALL SELECT a.id, b.id
         |    FROM hprefix a JOIN btoks b ON a.tok = b.tok
         |  UNION ALL SELECT a.id, b.id
         |    FROM bprefix a JOIN btoks b ON a.tok = b.tok AND a.id <> b.id)),
         |arrs AS (SELECT id, list_sort(list(tok)) AS ts FROM
         |  (SELECT id, tok FROM htoks UNION ALL SELECT id, tok FROM btoks)
         |  GROUP BY 1),
         |ver AS (SELECT c.id_a, c.id_b,
         |    len(list_intersect(a.ts, b.ts)) AS inter,
         |    len(a.ts) AS n_a
         |  FROM cand c JOIN arrs a ON a.id = c.id_a JOIN arrs b ON b.id = c.id_b)
         |SELECT id_a, id_b,
         |  inter / CAST(n_a AS DOUBLE) AS containment
         |FROM ver
         |WHERE inter * 10 >= n_a * 9
         |ORDER BY id_a, id_b""".stripMargin
    },

    // same probes (interpolated from the SAME Scala vals the Spark
    // literals use), same normalize-then-fingerprint order
    "d23_canonical_dedup" ->
      s"""WITH nn AS (SELECT doc_id, text FROM documents
         |  WHERE text IS NOT NULL),
         |all_docs AS (
         |  SELECT doc_id, text || '${TextQueries.NfcProbeComposed}' AS text
         |    FROM nn
         |  UNION ALL
         |  SELECT doc_id + 1000000,
         |    text || '${TextQueries.NfcProbeDecomposed}' FROM nn),
         |grp AS (SELECT md5(lower(trim(nfc_normalize(text)))) AS fingerprint,
         |    min(doc_id) AS canonical_id, count(*) AS n_copies
         |  FROM all_docs GROUP BY 1)
         |SELECT fingerprint, canonical_id, n_copies FROM grp
         |ORDER BY canonical_id""".stripMargin,

    // shares d21's whole chain (the d06/d07 pattern — detection and
    // rewrite cannot drift), then applies the same keep rule: drop a
    // doc iff contained in another, mutual pairs keep the lower id
    "d22_superset_removal" ->
      s"""WITH $containmentCtes,
         |pairs AS (SELECT id_a, id_b FROM ver
         |  WHERE inter * 10 >= n_a * 9),
         |dr AS (SELECT p.id_a AS doc_id, min(p.id_b) AS kept_in
         |  FROM pairs p LEFT JOIN pairs q
         |    ON q.id_a = p.id_b AND q.id_b = p.id_a
         |  WHERE q.id_a IS NULL OR p.id_a > p.id_b
         |  GROUP BY 1)
         |SELECT a.doc_id,
         |  CASE WHEN dr.doc_id IS NULL THEN 'kept' ELSE 'dropped' END
         |    AS status,
         |  dr.kept_in
         |FROM all_docs a LEFT JOIN dr ON a.doc_id = dr.doc_id
         |ORDER BY a.doc_id""".stripMargin,

    // fuzzy-join replay: same two blocking passes, same length
    // pre-filter, same levenshtein cap and (dist, id) best-match rule
    "d12_fuzzy_join" ->
      """WITH clean AS (SELECT p_partkey AS pid, p_name AS pname FROM part),
        |dirty AS (SELECT pid + 1000000 AS did,
        |    substr(pname, 1, CAST(pid % length(pname) AS INT)) ||
        |    substr(pname, CAST(pid % length(pname) AS INT) + 2) AS dname
        |  FROM clean),
        |db AS (SELECT did, dname, 'p:' || substr(dname, 1, 8) AS blk FROM dirty
        |  UNION ALL
        |  SELECT did, dname, 's:' || right(dname, 8) FROM dirty),
        |cb AS (SELECT pid, pname, 'p:' || substr(pname, 1, 8) AS blk FROM clean
        |  UNION ALL
        |  SELECT pid, pname, 's:' || right(pname, 8) FROM clean),
        |cand AS (SELECT DISTINCT did, dname, pid, pname
        |  FROM db JOIN cb USING (blk)
        |  WHERE abs(length(dname) - length(pname)) <= 2),
        |ver AS (SELECT did, pid, CAST(levenshtein(dname, pname) AS BIGINT) AS dist
        |  FROM cand WHERE levenshtein(dname, pname) <= 2),
        |best AS (SELECT did, pid, dist,
        |    row_number() OVER (PARTITION BY did ORDER BY dist, pid) AS rn
        |  FROM ver)
        |SELECT did AS dirty_id, pid AS clean_id, dist
        |FROM best WHERE rn = 1 ORDER BY 1""".stripMargin,

    // deterministic-Bloom replay: identical bit positions
    // (md5-derived, mod m) on both engines; the incoming union, the
    // all-k-positions-hit membership rule, and the summary counts are
    // stated once each and hash-match exactly
    "d10_bloom_exact" -> {
      val m = Dedup.BloomBits
      val k = Dedup.BloomHashes
      s"""WITH hist AS (SELECT DISTINCT md5(lower(trim(text))) AS f
         |  FROM documents WHERE text IS NOT NULL),
         |ks AS (SELECT unnest(range($k)) AS i),
         |setbits AS (SELECT DISTINCT
         |    ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || f), 1, 8))::BIGINT % $m AS p
         |  FROM hist CROSS JOIN ks),
         |inc AS (SELECT doc_id + 1000000 AS id, text FROM documents
         |  UNION ALL SELECT doc_id + 2000000, text || ' spark' FROM documents),
         |pp AS (SELECT id,
         |    ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || md5(lower(trim(text)))), 1, 8))::BIGINT % $m AS p
         |  FROM inc CROSS JOIN ks),
         |flags AS (SELECT id,
         |    (count(*) FILTER (WHERE p IN (SELECT p FROM setbits)) = $k) AS probably_seen
         |  FROM pp GROUP BY id)
         |SELECT CAST(count(*) AS BIGINT) AS n_incoming,
         |  CAST(count(*) FILTER (WHERE probably_seen) AS BIGINT) AS n_flagged,
         |  CAST(count(*) FILTER (WHERE id < 2000000 AND probably_seen) AS BIGINT) AS n_true_dups_flagged,
         |  CAST(count(*) FILTER (WHERE id >= 2000000 AND probably_seen) AS BIGINT) AS n_false_positives
         |FROM flags""".stripMargin
    },

    "d05_embedding_neardup" -> {
      val bucket = (0 until 16).map { i =>
        s"CASE WHEN q[${i + 1}] >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END"
      }.mkString(" + ")
      s"""WITH all_e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings),
         |qv AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
         |  FROM all_e),
         |b AS (SELECT vec_id, q, $bucket AS bucket,
         |    CAST(list_dot_product(q, q) AS BIGINT) AS norm FROM qv)
         |SELECT vec_a, vec_b, cosine FROM (
         |  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
         |    list_dot_product(a.q, b2.q) /
         |      (sqrt(CAST(a.norm AS DOUBLE)) * sqrt(CAST(b2.norm AS DOUBLE))) AS cosine
         |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
         |WHERE cosine >= 0.999
         |ORDER BY vec_a, vec_b""".stripMargin
    },

    // same fused shingle polynomial as d02's chain, multiplicity-kept
    // explode, one distinct-df table, one join
    "d14_duplicated_spans" ->
      s"""WITH sh AS (SELECT doc_id,
         |  list_transform(generate_series(1, greatest(length(text) - ${Dedup.ShingleK - 1}, 1), ${Dedup.ShingleStride}),
         |    i -> $shinglePoly) AS hs
         |  FROM documents WHERE text IS NOT NULL),
         |es AS (SELECT doc_id, unnest(hs) AS h FROM sh),
         |dfr AS (SELECT h, count(*) AS docs_with
         |  FROM (SELECT DISTINCT doc_id, h FROM es) GROUP BY 1)
         |SELECT doc_id, count(*) AS n_positions,
         |  CAST(sum(CASE WHEN docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_positions,
         |  CAST(sum(CASE WHEN docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    / CAST(count(*) AS DOUBLE) AS dup_fraction
         |FROM es JOIN dfr USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // parallel unnests zip (start, hash) positionally; the rewrite is
    // the head/gaps/tail stitching stated in removeDuplicatedSpans'
    // scaladoc — no interval merge needed because constant-width cuts
    // over sorted starts have sorted ends
    "d15_span_removal" -> {
      val k = Dedup.ShingleK
      s"""WITH nn AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
         |sh AS (SELECT doc_id, text,
         |  generate_series(1, greatest(length(text) - ${k - 1}, 1), ${Dedup.ShingleStride}) AS ss,
         |  list_transform(generate_series(1, greatest(length(text) - ${k - 1}, 1), ${Dedup.ShingleStride}),
         |    i -> $shinglePoly) AS hs
         |  FROM nn),
         |pos AS (SELECT doc_id, unnest(ss) AS s, unnest(hs) AS h FROM sh),
         |dfr AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM pos)
         |  GROUP BY h HAVING count(*) >= 2),
         |dp AS (SELECT doc_id, list_sort(list(s)) AS ps FROM pos
         |  WHERE h IN (SELECT h FROM dfr) GROUP BY doc_id),
         |cl AS (SELECT n.doc_id, n.text,
         |  CASE WHEN d.ps IS NULL THEN n.text ELSE
         |    substr(n.text, 1, d.ps[1] - 1)
         |    || array_to_string(list_transform(generate_series(1, len(d.ps) - 1),
         |         j -> substr(n.text, (d.ps[j] + $k)::INT,
         |           greatest(0, d.ps[j + 1] - (d.ps[j] + $k))::INT)), '')
         |    || substr(n.text, (d.ps[len(d.ps)] + $k)::INT)
         |  END AS cleaned
         |  FROM nn n LEFT JOIN dp d USING (doc_id))
         |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(length(cleaned) AS BIGINT) AS n_kept_chars,
         |  md5(cleaned) AS cleaned_md5
         |FROM cl ORDER BY doc_id""".stripMargin
    },

    // word-token l-gram enumeration via the parallel-unnest list idiom
    // (d15's), groupBy-HAVING for duplicated grams, per-doc island
    // merge replaying the engine's break rule verbatim (CTE chain
    // shared with d20's removal oracle)
    "d19_exact_dup_spans" ->
      s"""WITH ${exactSpanCtes(8)}
         |SELECT doc_id, span_start, span_end,
         |  span_end - span_start AS span_tokens
         |FROM spans ORDER BY doc_id, span_start""".stripMargin,

    // d25 = d19's semantics under the hashed-shuffle plan: the hash is
    // engine-internal (verified back to literal text), so the oracle
    // is the SAME raw-gram statement — any collision mishandling or
    // verify drift breaks this hash-match
    "d25_exact_dup_spans_hashed" ->
      s"""WITH ${exactSpanCtes(8)}
         |SELECT doc_id, span_start, span_end,
         |  span_end - span_start AS span_tokens
         |FROM spans ORDER BY doc_id, span_start""".stripMargin,

    // the engine's rolling window hash restated as the DIRECT per-
    // position polynomial (mathematically equal mod 2^32; literal
    // powers generated from the same code), boundary ends -> chunk
    // slices -> per-source chunk-hash dedup accounting
    "d27_cdc_chunks" -> d27OracleSql,
    // merged == direct, hash-proven by the shared oracle (t15 pattern)
    "d28_incremental_cdc" -> d27OracleSql,

    "d29_winnow_fingerprints" -> d29OracleSql,

    "d30_suffix_ranks" -> d30OracleSql,

    "d31_longest_repeat" -> d31OracleSql,

    "d32_cross_doc_repeats" -> d32OracleSql,
    "d34_repeat_span_removal" -> d34OracleSql,
    "d35_cross_span_removal" -> d35OracleSql,
    "d37_wide_cross_span" -> crossSpanOracleSql(WideCrossSpanMinLen),
    // merged == direct, hash-proven by the shared oracle (d28 pattern)
    "d36_incremental_cross_span" -> d35OracleSql,

    "d33_incremental_winnow" -> d29OracleSql,


    // d19's spans applied as the rewrite: indexed list_filter drops
    // every covered token (DuckDB lambda indexes are 1-based, the
    // engine's 0-based — the i-1 below is the alignment)
    "d20_exact_span_removal" ->
      s"""WITH ${exactSpanCtes(8)},
         |sp AS (SELECT doc_id,
         |    list(struct_pack(s := span_start, e := span_end)
         |      ORDER BY span_start) AS spans
         |  FROM spans GROUP BY doc_id),
         |nn AS (SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM documents WHERE text IS NOT NULL),
         |cl AS (SELECT n.doc_id, n.ws,
         |    CASE WHEN p.spans IS NULL THEN n.ws
         |    ELSE list_filter(n.ws, (w, i) -> len(list_filter(p.spans,
         |      q -> (i - 1) >= q.s AND (i - 1) < q.e)) = 0) END AS kept
         |  FROM nn n LEFT JOIN sp p USING (doc_id))
         |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
         |  CAST(len(kept) AS BIGINT) AS n_kept_tokens,
         |  -- DuckDB's array_to_string([]) is NULL where Spark's
         |  -- array_join([]) is '' — a fully-cut doc must hash as ''
         |  md5(coalesce(array_to_string(kept, ' '), '')) AS cleaned_md5
         |FROM cl ORDER BY doc_id""".stripMargin,

    // same k-means replay as s08 (shared CTE chain, retargeted at the
    // doubled corpus), then the within-cluster lower-id-wins cosine
    // flagging
    "d13_semantic_dedup" ->
      s"""WITH all_e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings),
         |${SimilarityQueries.kmeansAssignCtes("all_e", Dedup.SemDeDupK)},
         |nrm AS (SELECT vec_id, cid, q,
         |    CAST(list_dot_product(q, q) AS BIGINT) AS norm FROM a2),
         |drp AS (SELECT DISTINCT a.vec_id
         |  FROM nrm a JOIN nrm b ON a.cid = b.cid AND b.vec_id < a.vec_id
         |  WHERE a.norm > 0 AND b.norm > 0
         |    AND list_dot_product(a.q, b.q) /
         |      (sqrt(CAST(a.norm AS DOUBLE)) * sqrt(CAST(b.norm AS DOUBLE)))
         |    >= ${Dedup.SemDeDupTau})
         |SELECT n.vec_id, CAST(n.cid AS BIGINT) AS cid,
         |  (d.vec_id IS NOT NULL) AS is_semantic_dup
         |FROM nrm n LEFT JOIN drp d USING (vec_id)
         |ORDER BY n.vec_id""".stripMargin,
  )
}
