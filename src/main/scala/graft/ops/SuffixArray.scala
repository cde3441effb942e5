package graft.ops

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.JobPhase

/** Distributed suffix-array construction by PREFIX DOUBLING
  * (Manber–Myers, SIAM J. Comput. 1993) — the primitive behind exact
  * substring-level dedup at corpus scale (Lee et al. 2022 build suffix
  * arrays per shard to find every duplicated span of ANY length, where
  * the fixed-l gram families d19/d25 see only length >= l).
  *
  * Each round upgrades "suffixes ordered by their first h characters"
  * to fan·h using only RANKS: the sort key for suffix i becomes
  * (rank(i), rank(i+h), …, rank(i+(fan−1)h)) — Manber–Myers'
  * doubling key extended to quadrupling (window path) / octupling
  * (wide path, where each round pays a whole materialization), valid
  * because each tie on a key prefix pins the next h characters and
  * licenses the next component — with the past-the-end sentinel −1
  * ordering a proper prefix before any extension: exactly
  * lexicographic suffix order.
  *
  * TWO physical forms of the same algebra, dispatched per group by
  * size ([[GiantGroupThreshold]]):
  *
  *  - the WINDOW path (groups that fit a task): positions are dense
  *    per group, so every +d lookup is `lead(rank, d)` over position
  *    order and every re-rank a `dense_rank` window — one exchange at
  *    the chain head, in-partition sorts after. Parallelism across
  *    groups; skew bound = the largest group.
  *  - the WIDE path (giant groups — one outlier document must not
  *    serialize the job): the +d lookups become ONE balanced
  *    explode/re-group shuffle on (group, pos), and the re-rank is a
  *    RANGE-PARTITIONED TWO-PASS dense rank (the `Curation.runningSum`
  *    granule discipline): range-split on (key, pos) — the pos
  *    tiebreak lets one giant tie-class span partitions — rank within
  *    each range locally, then add per-range distinct-key offsets
  *    (boundary-shared keys deducted), computed from `numPartitions`
  *    driver rows. No step is bounded by a group's size.
  *
  * Scale shape: rows are (group, pos, rank) triples — n rows total for
  * an n-char corpus, never n² suffix bytes. Each round is checkpointed
  * (the iterative-operator lineage discipline) and loops EXIT EARLY —
  * the ranks loop once every group's ranks are unique, the repeat
  * loop ([[crossDocRepeats]]) as soon as no ≥2-member class survives,
  * which is far earlier. Natural text separates in far fewer than
  * log₄(len) rounds.
  */
object SuffixArray {

  /** Per-group character count above which the per-group window
    * machinery (single-task sorts per group) is swapped for the
    * range-partitioned wide path. 2M chars keeps a window-path group
    * sort comfortably inside one task's CPU/memory budget; a web
    * outlier (100 MB page, concatenated shard) reroutes instead of
    * serializing every rank round.
    */
  val GiantGroupThreshold: Long = 2L * 1024 * 1024

  /** Candidate-row count above which the repeat search's probe passes
    * stop BROADCASTING the component-fetch side and use a plain
    * (still candidate-sized, never corpus-exploding) shuffle join —
    * a corpus where near-maximal-repeat neighborhoods are huge (one
    * string repeated everywhere) would otherwise broadcast something
    * executor-killing. 256k candidate rows ×3 deduped component
    * targets ≈ a few tens of MB — safely inside broadcast budgets.
    */
  val CandBroadcastBudget: Long = 256L * 1024

  /** Frozen-level tie-class mass (positions inside ≥2-member round-0
    * rank classes — the exact per-level volume of the repeat search's
    * tie-refinement loop) above which [[crossDocRepeats]] /
    * [[longestRepeatedSubstring]]'s giant path REFUSE with a
    * diagnosis instead of entering the loop. On repeat-dense corpora
    * (k near-identical copies of shared boilerplate — un-deduped web
    * text's natural shape) cross-copy tie classes survive many levels
    * and the loop's total cost grows super-linearly in this mass
    * (measured exponent 1.75 on the 10×→30× rotation corpus:
    * 229 → 1,562 s); every other measured cliff in the repo refuses
    * past a stated budget rather than silently running for hours, and
    * this is the same discipline. Calibrated on that corpus (32
    * threads, sf0.1 base): mass 306k at 1× (the bench corpus — 26 s
    * total), 3.06M at 10× (229 s), 18.7M at 30× (the 26-minute tail;
    * the mass itself turns super-linear past k = 26 because the
    * vowel rotations wrap and copies 26 apart become literal
    * duplicates). 8M sits between the acceptable 10× regime and the
    * tail. The refusal costs round 0 only (the linear part —
    * MEASURED 503 s refusal vs the 1,562 s silent run at 30×, the
    * `d32_guard` scale row): the mass IS the round-0 tie relation's
    * size, so no cheaper exact signal exists. Callers with a
    * genuinely repeat-dense corpus should pre-deduplicate (d01/d02),
    * use the span faces (d35/p07), or raise the budget explicitly.
    */
  val TieMassBudget: Long = 8L * 1024 * 1024

  private val K0 = 8

  /** Radix for the giant paths' packed multi-code-per-long keys
    * (three 21-bit fields per 63-bit long, big-endian). INVARIANT:
    * packing preserves lexicographic order ONLY while every packed
    * code is in [0, 2^21) — true for the `ascii()` codepoints
    * (< 0x110000) and 0-padding every current caller feeds, but a
    * future caller packing token ids or other wide codes would get
    * silently reordered keys. [[requirePackable]] enforces the bound
    * loudly at each packing site (one bounded-scalar aggregate over
    * the giant branch — negligible next to the wide path it guards).
    */
  private val PackRadix = 1L << 21

  private def requirePackable(df: DataFrame, codeCol: String,
      site: String): Unit = {
    val mx = df.agg(coalesce(max(col(codeCol).cast("long")), lit(0L)))
      .head().getLong(0)
    require(mx < PackRadix,
      s"$site: code column '$codeCol' reaches $mx >= 2^21 — the packed " +
        "3-codes-per-long key would reorder lexicographically. Feed " +
        "codepoint-sized codes (< 2^21) or widen the packing radix.")
  }

  // ------------------------------------------------------------------
  // shared plumbing
  // ------------------------------------------------------------------

  private def tagCols(df: DataFrame): Seq[Column] =
    if (df.columns.contains("tag")) Seq(col("tag")) else Nil

  /** Converged when every group's dense ranks are all distinct: the
    * max equals the position count (one action per round).
    */
  private def allUnique(r: DataFrame): Boolean = r.groupBy("gid")
    .agg(max("rank").as("m"), count(lit(1)).as("n"))
    .where(col("m") =!= col("n")).limit(1).count() == 0

  /** One refinement/rank strategy: [[WindowOps]] for groups that fit a
    * task, [[WideOps]] for giant groups. Both state the SAME algebra:
    * gram builds the round-0 `k0`-code composite key per position,
    * rank0 dense-ranks it per group, refine quadruples h via the
    * (rank, rank₊ₕ, rank₊₂ₕ, rank₊₃ₕ) key. `k0` differs by COST
    * SHAPE: the window form pays one lead column per code (8 is
    * plenty), while the wide form pays a whole explode/re-group +
    * two-pass-rank ROUND to quadruple h — so it front-loads a 32-code
    * round 0 (one wider explode, amortized) and typically saves one
    * full round on natural text (ties rarely survive 32 chars).
    */
  private sealed trait RankOps {
    def k0: Int
    def fan: Int
    def gram(codes: DataFrame): DataFrame
    def rank0(g8: DataFrame): DataFrame
    def refine(r: DataFrame, h: Long): DataFrame
  }

  /** Per-group windows: one explicit gid repartition at the chain
    * head (user-specified so AQE won't coalesce it to one partition
    * at small input sizes — measured 10x on the suite box), then
    * every round is lead() + dense_rank() on the partitioning the
    * chain already holds (localCheckpoint preserves it).
    */
  private object WindowOps extends RankOps {
    val k0: Int = K0
    val fan: Int = 4
    def gram(codes: DataFrame): DataFrame = {
      val wPos = Window.partitionBy("gid").orderBy("pos")
      val par = codes.sparkSession.sparkContext.defaultParallelism
      val kcols = col("c0").as("k0") +: (1 until K0).map(o =>
        coalesce(lead(col("c0"), o).over(wPos), lit(0)).as(s"k$o"))
      codes.repartition(par, col("gid"))
        .select(Seq(col("gid"), col("pos")) ++ kcols ++ tagCols(codes): _*)
    }
    def rank0(g8: DataFrame): DataFrame =
      g8.select(Seq(col("gid"), col("pos"),
        dense_rank().over(Window.partitionBy("gid")
            .orderBy((0 until K0).map(o => col(s"k$o")): _*))
          .cast("long").as("rank")) ++ tagCols(g8): _*)
    def refine(r: DataFrame, h: Long): DataFrame = {
      val wPos = Window.partitionBy("gid").orderBy("pos")
      // positions are dense 1..n per group, so "rank of the suffix d
      // ahead" is lead(rank, d) over pos order — a WINDOW on the
      // partitioning the loop already holds, never a self-join.
      // QUADRUPLING: the same pass reads ranks at +2h and +3h too —
      // (r, r₊ₕ) ties fix the 2h-prefix, licensing r₊₂ₕ, and so on;
      // rounds drop from log₂ to log₄. Offsets clamp to Int.MaxValue:
      // a lead past every position correctly yields the all-(−1)
      // column, and window-path groups are < GiantGroupThreshold
      // chars anyway.
      val stepped = (1 to 3).foldLeft(r) { (df, m) =>
        val d = math.min(m * h, Int.MaxValue.toLong).toInt
        df.withColumn(s"rank$m",
          coalesce(lead(col("rank"), d).over(wPos), lit(-1L)))
      }
      stepped.select(Seq(col("gid"), col("pos"),
        dense_rank().over(Window.partitionBy("gid")
          .orderBy("rank", "rank1", "rank2", "rank3"))
          .cast("long").as("rank")) ++ tagCols(r): _*)
    }
  }

  /** Giant-group form: per-position lookups via one balanced
    * explode/re-group shuffle, per-group dense rank via the
    * range-partitioned two-pass form. Nothing is bounded by a single
    * group's size — the documented fallback d30/d31 owed, implemented.
    *
    * Cost shape (profiled round 11): every wide stage is dominated by
    * the range-partition + checkpoint + stats materializations, ∝
    * rows × key width × rounds — so the wide form (a) PACKS three
    * 21-bit char codes per long at round 0 (33 chars in 11 keys,
    * gathered in two narrow fetchShifted stages instead of one 33-way
    * explode; BMP+ codepoints < 2²¹, big-endian packing preserves
    * lexicographic order, 63 bits stays positive) and (b) OCTUPLES h
    * per refine round — 8 rank components cover [0, 8h) exactly, the
    * Manber–Myers key argument at fan 8 — halving the round count the
    * quadrupling form pays. Rank components are never packed: ranks
    * can exceed 2³¹ on the very groups this path exists for.
    */
  private object WideOps extends RankOps {
    val k0: Int = 33
    val fan: Int = 8
    def gram(codes: DataFrame): DataFrame = {
      requirePackable(codes, "c0", "WideOps.gram")
      // stage 1: each position's (c, c₊₁, c₊₂) as one packed long
      val tri = fetchShifted(codes, "c0", Seq(0L, 1L, 2L), lit(0L))
      val packed = tri.select(Seq(col("gid"), col("pos"),
        ((col("k0") * PackRadix + col("k1")) * PackRadix + col("k2"))
          .as("c0")) ++
        tagCols(tri): _*)
      // stage 2: 11 packed triples at stride 3 → 33 contiguous chars;
      // past-end default 0 == a packed (0,0,0), consistent with the
      // stage-1 padding
      fetchShifted(packed, "c0", (0L until (k0 / 3).toLong).map(_ * 3),
        lit(0L))
    }
    def rank0(g8: DataFrame): DataFrame =
      globalDenseRankPerGid(g8, (0 until k0 / 3).map(i => s"k$i"))
    def refine(r: DataFrame, h: Long): DataFrame =
      globalDenseRankPerGid(
        fetchShifted(r, "rank", (0 until fan).map(_ * h), lit(-1L)),
        (0 until fan).map(i => s"k$i"))
  }

  /** The +offset lookup without windows: each (gid, pos, v) row is
    * exploded to (gid, pos − o, slot, v) for every requested offset o
    * and re-grouped on (gid, pos) — ONE shuffle, hash-balanced on
    * (gid, pos), so a giant group spreads over the cluster instead of
    * pinning one task. Missing slots (past the group end) take
    * `default`; an optional `tag` column rides slot 0.
    */
  private def fetchShifted(df: DataFrame, valueCol: String,
      offsets: Seq[Long], default: Column): DataFrame = {
    val hasTag = df.columns.contains("tag")
    val posType = df.schema("pos").dataType
    val nullTag: Column =
      if (hasTag) lit(null).cast(df.schema("tag").dataType) else lit(null)
    val slots = offsets.zipWithIndex.map { case (o, i) =>
      struct(
        (col("pos").cast("long") - lit(o)).as("tpos"),
        lit(i).as("slot"),
        col(valueCol).cast("long").as("v"),
        (if (hasTag && o == 0L) col("tag") else nullTag).as("tag"))
    }
    val exploded = df
      .select(col("gid"), explode(array(slots: _*)).as("e"))
      .select(col("gid"), col("e.tpos").as("pos"), col("e.slot").as("slot"),
        col("e.v").as("v"), col("e.tag").as("tag"))
      .where(col("pos") >= 1)
    val aggs = offsets.indices.map(i =>
      coalesce(max(when(col("slot") === i, col("v"))), default.cast("long"))
        .as(s"k$i")) ++
      (if (hasTag) Seq(max(when(col("slot") === 0, col("tag"))).as("tag"))
       else Nil)
    exploded.groupBy(col("gid"), col("pos"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("pos", col("pos").cast(posType))
  }

  /** Per-group dense rank without a per-group window: range-partition
    * on (gid, keys…, pos) — the pos tiebreak deliberately lets one
    * giant tie-class STRADDLE partitions, which is what keeps an
    * adversarial all-equal-key group balanced — dense-rank within each
    * range, then add per-range offsets (distinct keys strictly below
    * the range, boundary-shared keys deducted once per boundary)
    * computed from ≤ numPartitions driver rows. Finally normalize to
    * per-gid ranks by subtracting each gid's min (gid leads the range
    * order, so a gid's ranks are contiguous). The `Curation.runningSum`
    * two-pass granule discipline, applied to ranking.
    */
  private def globalDenseRankPerGid(df: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val par = spark.sparkContext.defaultParallelism
    val rangeCols = (col("gid") +: keyCols.map(col)) :+ col("pos")
    val phase = s"denseRank(${keyCols.size} keys)"
    val ranged = JobPhase(spark.sparkContext, s"$phase range+ckpt") {
      df.repartitionByRange(par, rangeCols: _*)
        .withColumn("__part", spark_partition_id())
        .localCheckpoint(true) // pins partition ids for the stats pass
    }
    val keyStruct = struct(col("gid") +: keyCols.map(col): _*)
    // bounded driver state: one (nd, min, max) row per range partition
    val stats = JobPhase(spark.sparkContext, s"$phase stats") {
      ranged.groupBy("__part")
        .agg(countDistinct(keyStruct).as("nd"),
          min(keyStruct).as("mn"), max(keyStruct).as("mx"))
        .collect()
    }.sortBy(_.getInt(0))
    var u = 0L // distinct keys in ranges processed so far
    var prevMax: Row = null
    val offs = stats.map { s =>
      val nd = s.getLong(1)
      val dup = prevMax != null && prevMax == s.getStruct(2)
      val off = u - (if (dup) 1L else 0L)
      u += nd - (if (dup) 1L else 0L)
      prevMax = s.getStruct(3)
      (s.getInt(0), off)
    }.toSeq
    val offDf = offs.toDF("__part", "__off")
    val w = Window.partitionBy(col("__part"))
      .orderBy(col("gid") +: keyCols.map(col): _*)
    val ranked = ranged.join(broadcast(offDf), Seq("__part"))
      .withColumn("__grank", dense_rank().over(w).cast("long") + col("__off"))
    // per-gid normalize: gids are few on the wide path (giant groups
    // only), so the min table broadcasts
    val mins = ranked.groupBy("gid").agg(min(col("__grank")).as("__gmin"))
    ranked.join(broadcast(mins), Seq("gid"))
      .withColumn("rank", col("__grank") - col("__gmin") + 1L)
      .select(Seq(col("gid"), col("pos"), col("rank")) ++ tagCols(df): _*)
  }

  /** Per-group STABLE rank (SQL rank(): 1 + the number of strictly
    * smaller rows in the group) without a per-group window — the wide
    * twin of [[globalDenseRankPerGid]] for the repeat search's round
    * 0, whose in-place renumber algebra needs rank GAPS (a class's
    * shared value followed by a gap equal to its size), never dense
    * ranks. Stable rank is CLASS arithmetic: a row's rank = 1 + the
    * count of rows in strictly smaller classes, so the whole pass
    * runs on the (gid, key)-grouped CLASS relation — one global
    * hash-aggregate, a range-partitioned per-range running sum with
    * per-(range, gid) offsets from ≤ numPartitions × giant-group-count
    * driver rows (each class lands in exactly ONE range, so no
    * boundary-straddle correction is needed at class granularity),
    * and one equi-join back to the rows. No step is bounded by a
    * group's size.
    */
  private def globalStableRankPerGid(df: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val spark = df.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val gk = col("gid") +: keyCols.map(col)
    val classes = df.groupBy(gk: _*).agg(count(lit(1)).as("__c"))
    val ranged = classes.repartitionByRange(par, gk: _*)
      .withColumn("__part", spark_partition_id())
      .localCheckpoint(true) // pins partition ids for the stats pass
    // bounded driver state: one class-count sum per (range, gid)
    val totals = ranged.groupBy("__part", "gid").agg(sum("__c").as("__t"))
      .collect()
    val offRows = totals.groupBy(_.get(1)).toSeq.flatMap { case (g, rows) =>
      var cum = 0L
      rows.sortBy(_.getInt(0)).map { r =>
        val off = cum
        cum += r.getLong(2)
        Row(r.getInt(0), g, off)
      }
    }
    val offDf = spark.createDataFrame(
      java.util.Arrays.asList(offRows: _*),
      StructType(Seq(StructField("__part", IntegerType),
        df.schema("gid").copy(name = "gid"),
        StructField("__off", LongType))))
    val w = Window.partitionBy("__part", "gid")
      .orderBy(keyCols.map(col): _*)
    val classRank = ranged.join(broadcast(offDf), Seq("__part", "gid"))
      .withColumn("rank", col("__off") + sum(col("__c")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) -
        col("__c") + 1L)
      .select(gk :+ col("rank"): _*)
    df.join(classRank, Seq("gid") ++ keyCols)
      .select(Seq(col("gid"), col("pos"), col("rank")) ++ tagCols(df): _*)
  }

  /** Split a (gid, …) relation by membership in `giantGids`; both
    * joins broadcast the (small) giant-group list, so neither filter
    * shuffles or skews.
    */
  private def splitByGiants(df: DataFrame, giantGids: DataFrame)
      : (DataFrame, DataFrame) =
    (df.join(broadcast(giantGids), Seq("gid"), "left_anti"),
      df.join(broadcast(giantGids), Seq("gid"), "left_semi"))

  /** The full ranks loop (round 0 + quadrupling until per-group
    * uniqueness) under one strategy.
    */
  private def ranksLoop(codes: DataFrame, maxLen: Long, maxRounds: Int,
      ops: RankOps): DataFrame = {
    val sc = codes.sparkSession.sparkContext
    val phase = s"ranksLoop(k0=${ops.k0})"
    var r = JobPhase(sc, s"$phase rank0") {
      ops.rank0(ops.gram(codes)).localCheckpoint(true)
    }
    var h = ops.k0.toLong
    var rounds = 0
    var done = JobPhase(sc, s"$phase allUnique")(allUnique(r))
    while (!done && h < maxLen) {
      require(rounds < maxRounds,
        s"suffix ranking did not converge in $maxRounds rounds " +
          s"(maxLen=$maxLen) — corpus shape unexpected, refusing to spin")
      r = JobPhase(sc, s"$phase refine h=$h")(ops.refine(r, h).localCheckpoint(true))
      done = JobPhase(sc, s"$phase allUnique")(allUnique(r))
      h *= ops.fan
      rounds += 1
    }
    r
  }

  /** Rank-refinement over (gid, pos, c0[, tag]) with pos dense 1..N
    * per gid: groups up to `giantThreshold` chars take the window
    * path, larger ones the wide path; outputs union. Returns
    * (gid, pos, rank[, tag]).
    */
  private def ranksFromCodes(codes: DataFrame, maxLen: Long,
      maxRounds: Int, giantGids: DataFrame, hasGiants: Boolean): DataFrame =
    if (!hasGiants) ranksLoop(codes, maxLen, maxRounds, WindowOps)
    else {
      val c = codes.localCheckpoint(true) // two consumers below
      val (small, giant) = splitByGiants(c, giantGids)
      ranksLoop(small, maxLen, maxRounds, WindowOps)
        .unionByName(ranksLoop(giant, maxLen, maxRounds, WideOps))
    }

  /** (doc_id, pos, suffix_rank): the rank (1-based, dense, per
    * document) of the suffix starting at 1-based `pos` in the
    * document's lexicographic suffix order. Empty/null texts yield no
    * rows (they have no suffixes). Documents longer than
    * `giantThreshold` chars reroute to the wide path — one outlier
    * document no longer serializes each rank round into a single
    * task.
    */
  def suffixRanks(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxRounds: Int = 40,
      giantThreshold: Long = GiantGroupThreshold): DataFrame = {
    val base = docs
      .where(col(textCol).isNotNull && length(col(textCol)) >= 1)
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val maxLen = base.agg(coalesce(max(length(col("text"))), lit(0)))
      .head().getInt(0) // bounded driver scalar: the round count
    val giantGids = base.where(length(col("text")) > giantThreshold)
      .select(col("doc_id").as("gid"))
    val hasGiants = giantGids.limit(1).count() > 0
    // per-position char codes come from ONE split per document —
    // `substring(text, pos, 1)` per position is O(pos) on UTF-8 bytes
    // (quadratic per doc: measured 16 s of a 19 s build at sf0.1).
    // Codes are ints from round 0 on; texts must not contain NUL,
    // which shares code 0 with the past-the-end padding (the corpus
    // contract, as the sibling expressions' BMP rule).
    val codes = base
      .select(col("doc_id").as("gid"),
        posexplode(split(col("text"), "")).as(Seq("p0", "ch")))
      .select(col("gid"), (col("p0") + 1).as("pos"),
        ascii(col("ch")).as("c0"))
    ranksFromCodes(codes, maxLen.toLong, maxRounds, giantGids, hasGiants)
      .select(col("gid").as("doc_id"), col("pos"),
        col("rank").as("suffix_rank"))
  }

  // ------------------------------------------------------------------
  // longest-repeat core: per-group class binary search
  // ------------------------------------------------------------------
  //
  // The longest substring occurring at two positions (optionally: in
  // two different documents) of a group equals the largest m for
  // which some EQUIVALENCE CLASS of "same first m characters" has ≥ 2
  // members (≥ 2 distinct owning docs for the cross form). Classes at
  // prefix length m are recoverable from the rank relation at any
  // level h ≤ m < 4h: the key (r_h(i), r_h(i+o₁), r_h(i+o₂),
  // r_h(i+o₃)) with offsets o_j = min(j·h, m−h) covers [0, m) exactly
  // — equal keys ⟺ equal m-prefixes, and the key tuples ORDER like
  // the prefixes, so the lexicographically smallest witness is the
  // minimum qualifying key. That turns the whole problem into:
  //
  //   1. refine ranks only until no ≥2-member (cross-doc) class
  //      survives, FREEZING each group's last-true level h_g — far
  //      fewer rounds than full uniqueness;
  //   2. per group, binary-search m ∈ [h_g, 4·h_g) with one bounded
  //      class-exists pass per step (all groups step together, each
  //      carrying its own mid);
  //   3. one witness pass at m* picks min (key, pos).
  //
  // No rank-adjacency window (the skew bound of the lead() form), no
  // per-group pair arrays, no concatenated-text row: every
  // intermediate is (group, pos)-keyed.
  //
  // STABLE RANKS + TIE PRUNING (round 10 rewrite — the measured
  // 343 s-at-10× fix). Ranks are SQL rank() (non-dense), not
  // dense_rank: a class's shared value is followed by a gap equal to
  // its size, so when the class splits at the next level its members
  // renumber IN PLACE (base + within-class rank − 1) without touching
  // any other row — a position's rank is FINAL the moment its class
  // is a singleton. Each level therefore refines only the rows still
  // in ≥2-member classes (the TIE set, which shrinks geometrically:
  // most 8-gram classes split immediately on natural text), fetching
  // their ≤ 3 components by one equi-join against the full stable
  // rank relation. Skew bound per level = the largest TIE CLASS
  // (the window partitions by (group, class)), not the largest group
  // — so the tie-pruned levels need no giant dispatch. The one-off
  // round-0 gram + rank() windows ARE group-bounded, so round 0
  // dispatches on `giantThreshold`: giant groups take the balanced
  // fetchShifted gram and the class-level range-partitioned stable
  // rank ([[globalStableRankPerGid]]) instead.
  //
  // CANDIDATE PRUNING: a class member at any m ≥ h has an equal
  // m-prefix, hence an equal h-prefix, hence sits in a ≥2-member
  // (cross: ≥2-doc) RANK class at the frozen level h — and because
  // the group died at 4h, only positions inside near-maximal repeats
  // qualify: the candidate set is intrinsically SMALL (≈ the repeat
  // neighborhoods), regardless of corpus size. Each binary step
  // scores candidate rows only and fetches their components by a
  // broadcast equi-join against the stable rank relation — the
  // round-9 form exploded EVERY frozen row ×4 per step, a full
  // corpus shuffle per probe. A pathological corpus where candidates
  // are corpus-sized falls back to the explode form past
  // [[CandBroadcastBudget]].

  /** Per-group state rows (gid, h, lo, hi): the repeat length is in
    * [lo, hi); h is the frozen rank level (0 = search below 8 over the
    * round-0 gram columns).
    */
  private def maxRepeatImpl(codes: DataFrame, maxRounds: Int,
      cross: Boolean, giantThreshold: Long, tieMassBudget: Long,
      tag: String => Unit): DataFrame = {
    // the repeat search starts from a 16-char round-0 key, TWICE the
    // ranking loop's 8: cross-doc 8-gram collisions are ubiquitous on
    // natural text (every common word), so an 8-char level-0 leaves
    // corpus-sized tie sets and candidate classes; 16-char cross-doc
    // matches are essentially real repeats, so everything after
    // round 0 is repeat-neighborhood-sized. Round 0 itself is one
    // window pass either way — 8 extra lead columns, not a new sort.
    val RK0 = 16
    val k0 = RK0.toLong
    val spark = codes.sparkSession
    val hasTag = codes.columns.contains("tag")
    tag("gram+rank0")

    // round 0: per-group 16-gram + STABLE rank() — the only
    // group-bounded window passes in the whole search (one sort each,
    // once), for groups that fit a task; groups past `giantThreshold`
    // chars dispatch to the WIDE round-0 form (balanced fetchShifted
    // gram + class-level range-partitioned stable rank), so one giant
    // source can no longer serialize round 0 into a single task.
    // Every later level is tie-pruned and class-partitioned either way.
    val wPos = Window.partitionBy("gid").orderBy("pos")
    val par = spark.sparkContext.defaultParallelism
    val sizes = codes.groupBy("gid").agg(count(lit(1)).as("__n"))
    val giantGids = sizes.where(col("__n") > giantThreshold).select("gid")
    val hasGiants = giantGids.limit(1).count() > 0
    val codesAll = if (hasGiants) codes.localCheckpoint(true) else codes
    val (codesSmall, codesGiant) =
      if (hasGiants) splitByGiants(codesAll, giantGids)
      else (codesAll, codesAll.limit(0))
    // k-columns LONG on both branches so the union (and the cand0 key
    // slices) see one type regardless of dispatch
    val kcols = col("c0").cast("long").as("k0") +: (1 until RK0).map(o =>
      coalesce(lead(col("c0"), o).over(wPos), lit(0)).cast("long")
        .as(s"k$o"))
    val g8small = codesSmall.repartition(par, col("gid"))
      .select(Seq(col("gid"), col("pos")) ++ kcols ++ tagCols(codes): _*)
      .localCheckpoint(true)
    val g8giant: Option[DataFrame] =
      if (!hasGiants) None
      else Some(fetchShifted(codesGiant, "c0", 0L until RK0.toLong, lit(0L))
        .localCheckpoint(true))
    val g8 = g8giant.fold(g8small)(g8small.unionByName(_))
    val gidField = g8.schema("gid")

    /** A LOCAL-relation frame over driver-held gid rows (bounded by
      * the group count) — broadcast-join fodder without a shuffle or
      * a checkpoint job. Extra long columns follow the gid.
      */
    def localGids(rows: Seq[Seq[Any]], extra: String*): DataFrame = {
      val schema = org.apache.spark.sql.types.StructType(
        gidField +: extra.map(n => org.apache.spark.sql.types
          .StructField(n, org.apache.spark.sql.types.LongType)))
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map(Row.fromSeq): _*), schema)
    }
    def collectE(e: DataFrame): Seq[(Any, Boolean)] =
      e.collect().toSeq.map(row =>
        row.get(0) -> (!row.isNullAt(1) && row.getBoolean(1)))
    def aliveFilter(df: DataFrame, alive: Seq[Any]): DataFrame =
      df.join(broadcast(localGids(alive.map(Seq(_)))), Seq("gid"), "left_semi")

    val r0small = g8small.select(Seq(col("gid"), col("pos"),
      rank().over(Window.partitionBy("gid")
          .orderBy((0 until RK0).map(i => col(s"k$i")): _*))
        .cast("long").as("rank")) ++ tagCols(g8small): _*)
    // the giant branch ranks PACKED keys (3 codes per 21-bit field —
    // order-preserving, class-identical) so the class groupBy, range
    // pass and row join carry 6 longs instead of 16; cand0 still
    // reads g8's RAW per-char columns (its binary search slices keys
    // at char granularity)
    val r0giant: Option[DataFrame] = g8giant.map { gg =>
      requirePackable(codesGiant, "c0", "repeat-search r0giant")
      val packed = (0 until RK0 by 3).zipWithIndex.map { case (o, i) =>
        (o until math.min(o + 3, RK0)).map(j => col(s"k$j"))
          .reduceLeft((a, b) => a * lit(PackRadix) + b).as(s"pk$i")
      }
      globalStableRankPerGid(
        gg.select(Seq(col("gid"), col("pos")) ++ packed ++
          tagCols(gg): _*),
        packed.indices.map(i => s"pk$i"))
    }
    var ranks = r0giant.fold(r0small)(r0small.unionByName(_))
      .localCheckpoint(true)
    tag("ties0+exists0")

    /** ONE aggregation per level over the rank relation (round 14):
      * the former `tiesOf` + `existsOver` pair aggregated the SAME
      * relation twice per level on the same (gid, rank) keys — once
      * for the ≥2-member tie-class list, once for the per-gid
      * "a qualifying class survives" signal. This scan produces the
      * checkpointed class relation ONCE — count + (cross) min/max tag;
      * min/max skip nulls natively, so the old `where(tag.isNotNull)`
      * pre-filter folds into the same pass — and both consumers read
      * it: the tie semi-join takes (gid, rank), the exists signal is a
      * class-count-sized aggregate. Removes one full-tie-relation
      * Exchange per level from the loop's hot path (§2.4).
      *
      * Returns (tieClasses, ties). hint("merge") on the semi join:
      * the class list can be corpus-scale on boilerplate-heavy
      * corpora — the mispicked-broadcast hazard measured on the
      * salted 10x corpus (an 8 GiB broadcast ceiling blowout).
      */
    def tieScan(r: DataFrame): (DataFrame, DataFrame) = {
      val aggs =
        if (cross) Seq(count(lit(1)).as("__m"),
          min(col("tag")).as("__t0"), max(col("tag")).as("__t1"))
        else Seq(count(lit(1)).as("__m"))
      val tieCls = r.groupBy("gid", "rank").agg(aggs.head, aggs.tail: _*)
        .where(col("__m") >= 2)
        .localCheckpoint(true)
      val ties = r.join(tieCls.select("gid", "rank").hint("merge"),
        Seq("gid", "rank"), "left_semi")
      (tieCls, ties)
    }

    /** Per-group "a qualifying class survives", read off the tie-class
      * relation [[tieScan]] already materialized: a class qualifies
      * with ≥ 2 distinct non-null tags (cross — min(tag) != max(tag),
      * exactly countDistinct >= 2 over non-nulls; a class whose real
      * rows number < 2 has min = max or both null, never true) or
      * ≥ 2 members (within — every tie class, by construction).
      */
    def existsFrom(tieCls: DataFrame): Seq[(Any, Boolean)] = {
      val ok: Column =
        if (cross) col("__t0") =!= col("__t1") else col("__m") >= 2
      collectE(tieCls.groupBy("gid").agg(max(ok).as("ok")))
    }

    // driver-held search state per gid: (h, lo, hi) — the repeat
    // length lies in [lo, hi); bounded by the group count
    val state = scala.collection.mutable.LinkedHashMap.empty[Any, (Long, Long, Long)]
    val allGids = ranks.select("gid").distinct()
      .collect().map(_.get(0)).toSeq
    // groups that can NEVER qualify — fewer than 2 real positions
    // (within) or < 2 distinct owning docs (cross) — close at [0, 1)
    // immediately: no probe can succeed at ANY length, and keeping
    // them out of the candidate relations matters — a giant
    // SINGLE-DOC source would otherwise ship its whole round-0 gram
    // relation through every binary-search pass (measured ~half of
    // d32giant's wall clock) probing for a cross-doc class that
    // cannot exist
    val trivial: Set[Any] = {
      val real =
        if (cross) codesAll.where(col("tag").isNotNull) else codesAll
      // < 2 distinct tags iff min(tag) == max(tag) (groups with zero
      // real rows emit no aggregate row under either form) — the same
      // one-pass replacement as existsOver
      val triv: Column =
        if (cross) min(col("tag")) === max(col("tag"))
        else count(lit(1)) < 2
      real.groupBy("gid").agg(triv.as("__t")).where(col("__t"))
        .select("gid").collect().map(_.get(0)).toSet
    }
    val (tieCls0, ties0) = tieScan(ranks)
    var ties = ties0.localCheckpoint(true)
    val e0 = existsFrom(tieCls0).toMap
    allGids.foreach { g =>
      if (trivial(g)) state(g) = (0L, 0L, 1L)
      else if (!e0.getOrElse(g, false)) state(g) = (0L, 0L, k0)
    }
    var aliveG = allGids.filterNot(state.contains)
    ties = aliveFilter(ties, aliveG)
    // TIE-MASS BUDGET (the last measured cliff, guarded): the loop
    // below costs ∝ (this mass) × (levels a class survives), and on
    // repeat-dense corpora cross-copy classes survive MANY levels —
    // measured super-linear (exponent 1.75, 229 → 1,562 s at 10×→30×
    // on the salted-rotation corpus). The mass is one count over the
    // already-checkpointed frozen-level tie relation (seconds), spent
    // BEFORE the loop can silently burn hours — the
    // prefixFilterPairs / containmentPairs refusal discipline.
    if (aliveG.nonEmpty) {
      tag("tie-mass guard")
      val tieMass = ties.count()
      if (tieMass > tieMassBudget) {
        val op = if (cross) "crossDocRepeats" else "longestRepeatedSubstring"
        throw new IllegalStateException(
          s"$op: frozen-level tie-class volume $tieMass exceeds the " +
            s"$tieMassBudget budget — the tie-refinement loop's " +
            "per-level cost is proportional to this volume, and on " +
            "repeat-dense corpora (near-identical copies of shared " +
            "boilerplate) it is super-linear in corpus size (measured " +
            "1.75-exponent, 26 min at 30x). Pre-deduplicate exact/near " +
            "copies first (Dedup.contentDedup d01 / minHash d02), route " +
            "span-level cleanup through crossDocSpanRemoval (d35) or " +
            "the winnow->exact funnel (p07), which confines this " +
            "search to flagged sources, or raise tieMassBudget " +
            "explicitly for a deliberate long run.")
      }
    }
    var h = k0
    var rounds = 0
    // per-round candidate capture: a group dying at 4h contributes its
    // level-h TIE rows (already ≥2-member classes — far smaller than
    // the full rank relation a post-loop scan would pay)
    val candParts = ListBuffer.empty[DataFrame]
    while (aliveG.nonEmpty) {
      require(rounds < maxRounds,
        s"repeat search did not converge in $maxRounds rounds — " +
          "corpus shape unexpected, refusing to spin")
      tag(s"refine h=$h (ties)")
      // components r_h at +h/+2h/+3h for TIE rows only, fetched by
      // one equi-join against the full stable rank relation
      val targets = ties.select(col("gid"), col("pos"),
          explode(array((1 to 3).map(j =>
            struct((col("pos") + lit(j * h)).as("fpos"),
              lit(j).as("slot"))): _*)).as("t"))
        .select(col("gid"), col("pos"),
          col("t.fpos").as("fpos"), col("t.slot").as("slot"))
      val comp = ranks
        .select(col("gid"), col("pos").as("fpos"), col("rank").as("v"))
        .join(targets.hint("merge"), Seq("gid", "fpos"))
        .groupBy(col("gid"), col("pos"))
        .agg(
          coalesce(max(when(col("slot") === 1, col("v"))), lit(-1L)).as("r1"),
          coalesce(max(when(col("slot") === 2, col("v"))), lit(-1L)).as("r2"),
          coalesce(max(when(col("slot") === 3, col("v"))), lit(-1L)).as("r3"))
      val refined = ties.join(comp.hint("merge"), Seq("gid", "pos"), "left")
        .select(Seq(col("gid"), col("pos"), col("rank"),
          coalesce(col("r1"), lit(-1L)).as("r1"),
          coalesce(col("r2"), lit(-1L)).as("r2"),
          coalesce(col("r3"), lit(-1L)).as("r3")) ++ tagCols(ties): _*)
      // stable in-place renumber: the window partitions by (group,
      // CLASS) — skew bound = the largest tie class, never the group
      val wc = Window.partitionBy("gid", "rank")
        .orderBy("r1", "r2", "r3")
      val renum = refined
        .withColumn("nr", col("rank") + rank().over(wc).cast("long") - 1L)
        .localCheckpoint(true)
      tag(s"exists h=$h")
      val (tieClsN, tiesNextRaw) = tieScan(
        renum.select(Seq(col("gid"), col("pos"),
          col("nr").as("rank")) ++ tagCols(renum): _*))
      val tiesNext = tiesNextRaw.localCheckpoint(true)
      val eN = existsFrom(tieClsN).toMap
      // a died group's repeat is in [h, 4h): its rows KEEP their
      // level-h ranks (only survivors' tie rows advance below), so
      // the final relation holds every group at its own frozen level
      val died = aliveG.filterNot(g => eN.getOrElse(g, false))
      died.foreach(g => state(g) = (h, h, 4 * h))
      if (died.nonEmpty) candParts += aliveFilter(ties, died)
      aliveG = aliveG.filter(g => eN.getOrElse(g, false))
      if (aliveG.nonEmpty) {
        tag(s"update h=$h")
        val upd = aliveFilter(renum, aliveG)
          .select(col("gid"), col("pos"), col("nr"))
        ranks = ranks.join(upd, Seq("gid", "pos"), "left")
          .select(Seq(col("gid"), col("pos"),
            coalesce(col("nr"), col("rank")).as("rank")) ++
            tagCols(ranks): _*)
          .localCheckpoint(true)
        ties = aliveFilter(tiesNext, aliveG)
      }
      h *= 4
      rounds += 1
    }
    tag("cand init")
    val frozen = ranks
    val nullTag: Column =
      if (hasTag) lit(null).cast(frozen.schema("tag").dataType)
      else lit(null)
    // one-pass class-qualification predicate (round 13): >= 2 distinct
    // tags iff min != max — replaces countDistinct(tag) in every
    // class test below (qualify, classStats), the existsOver argument
    val qOk: Column =
      if (cross) min(col("tag")) =!= max(col("tag")) else count(lit(1)) >= 2

    /** Keep only rows whose class (by `keyCols`) qualifies — ≥ 2
      * members, cross: ≥ 2 distinct owning docs.
      */
    def qualify(rows: DataFrame, keyCols: Seq[String]): DataFrame = {
      val real = if (cross) rows.where(col("tag").isNotNull) else rows
      // hint("merge"): same mispicked-broadcast hazard as tieScan —
      // qualifying class lists can be corpus-scale
      rows.join(real.groupBy(keyCols.map(col): _*).agg(qOk.as("__ok"))
          .where(col("__ok")).select(keyCols.map(col): _*)
          .hint("merge"),
        keyCols, "left_semi")
    }

    // candidate relations, one per key source (see CANDIDATE PRUNING):
    // candH = rows of h ≥ RK0 groups in qualifying classes at their
    // frozen level (slot-0 key = that level's rank); cand0 = rows of
    // round-0-death groups (keys sliced from their gram codes). Both
    // SHRINK as the search's lo rises — class members at m ≥ lo are a
    // subset of qualifying-class members at lo — so pass volume decays
    // geometrically from the frozen-level class mass.
    // round-0-death groups still worth probing — the trivial [0, 1)
    // closures stay out so their gram rows never enter cand0
    val h0Gids = state.toSeq.collect {
      case (g, (0L, lo, hi)) if hi - lo > 1 => g
    }
    val h0Df = broadcast(localGids(h0Gids.map(Seq(_))))
    def realOnly(df: DataFrame): DataFrame =
      if (cross) df.where(col("tag").isNotNull) else df
    // each non-round-0 group appears in exactly one candPart (its
    // dying round's level-h ties), so the union's (gid, rank) classes
    // never mix levels
    var candH = qualify(
        realOnly(candParts.reduceOption(_ unionByName _)
          .getOrElse(frozen.limit(0))),
        Seq("gid", "rank"))
      .localCheckpoint(true)
    var cand0 = realOnly(g8).join(h0Df, Seq("gid"), "left_semi")
      .localCheckpoint(true)
    var candVolume = candH.count() + cand0.count()

    /** Candidate rows keyed at each group's probed `mid`s: (gid, pos,
      * mid, key[, tag]) — keys are level-h rank components (≤ 3
      * fetched per mid by one DEDUPED (gid, fpos) equi-join against
      * the stable rank relation, broadcast-hinted while candidates
      * fit [[CandBroadcastBudget]]) for h ≥ RK0 groups, gram-code
      * slices for round-0 groups; both array<long> whose
      * lexicographic order is prefix order.
      */
    def keyedRows(mids: DataFrame): DataFrame = {
      val midsH = mids.where(col("h") >= k0)
      val mids0 = mids.where(col("h") === 0L)
      val candM = candH.join(broadcast(midsH), Seq("gid"))
        .withColumn("off1", least(col("h"), col("mid") - col("h")))
        .withColumn("off2", least(col("h") * 2, col("mid") - col("h")))
        .withColumn("off3", least(col("h") * 3, col("mid") - col("h")))
      val tgt = candM.select(col("gid"), col("pos"), col("mid"),
          explode(array((1 to 3).map(j =>
            struct((col("pos") + col(s"off$j")).as("fpos"),
              lit(j).as("slot"))): _*)).as("t"))
        .select(col("gid"), col("pos"), col("mid"),
          col("t.fpos").as("fpos"), col("t.slot").as("slot"))
      val fetch0 = tgt.select("gid", "fpos").distinct()
      val fetch =
        if (candVolume <= CandBroadcastBudget) broadcast(fetch0)
        else fetch0.hint("merge")
      val comp = frozen
        .select(col("gid"), col("pos").as("fpos"), col("rank").as("v"))
        .join(fetch, Seq("gid", "fpos"))
      val withV = tgt.join(comp.hint("merge"), Seq("gid", "fpos"), "left")
        .groupBy(col("gid"), col("pos"), col("mid"))
        .agg(
          coalesce(max(when(col("slot") === 1, col("v"))), lit(-1L)).as("r1"),
          coalesce(max(when(col("slot") === 2, col("v"))), lit(-1L)).as("r2"),
          coalesce(max(when(col("slot") === 3, col("v"))), lit(-1L)).as("r3"))
      val rowsH = candM.join(withV.hint("merge"), Seq("gid", "pos", "mid"), "left")
        .select(col("gid"), col("pos"), col("mid"), col("rank"),
          coalesce(col("r1"), lit(-1L)).as("r1"),
          coalesce(col("r2"), lit(-1L)).as("r2"),
          coalesce(col("r3"), lit(-1L)).as("r3"),
          (if (hasTag) col("tag") else nullTag).as("tag"))
        .withColumn("key",
          array(col("rank"), col("r1"), col("r2"), col("r3")))
      val rows0 = cand0.join(broadcast(mids0), Seq("gid"))
        .withColumn("key", slice(
          array((0 until RK0).map(i => col(s"k$i").cast("long")): _*),
          lit(1), col("mid").cast("int")))
      val keep = Seq(col("gid"), col("pos"), col("mid"), col("key")) ++
        (if (cross) Seq(col("tag")) else Nil)
      rowsH.select(keep: _*).unionByName(rows0.select(keep: _*))
    }
    def classStats(rows: DataFrame): DataFrame = {
      val real = if (cross) rows.where(col("tag").isNotNull) else rows
      real.groupBy(col("gid"), col("mid"), col("key"))
        .agg(qOk.as("ok"), min(col("pos")).as("p"))
    }

    /** Skip the per-pass candidate-shrink bookkeeping once candidates
      * are this small — the shrink's extra jobs would cost more
      * latency than the remaining passes save.
      */
    val shrinkFloor = 65536L

    // multi-probe search, state on the driver (bounded by the group
    // count): each pass probes up to 3 evenly-spaced mids per group
    // in ONE distributed pass + one bounded collect, quartering the
    // range per pass; after a pass raises a group's lo, that group's
    // candidates SHRINK to the qualifying-class members at the new lo
    // (sound: the true m*-class is a qualifying class at every
    // lo ≤ m*), so the expensive frozen-level class mass is touched
    // by at most one pass
    while (state.values.exists { case (_, lo, hi) => hi - lo > 1 }) {
      tag("search pass")
      val act = state.toSeq.collect {
        case (g, (gh, lo, hi)) if hi - lo > 1 =>
          val mids = Seq((3 * lo + hi) / 4, (lo + hi) / 2, (lo + 3 * hi) / 4)
            .filter(m => m > lo && m < hi).distinct
          (g, gh, mids)
      }
      val mids = localGids(act.flatMap { case (g, gh, ms) =>
        ms.map(m => Seq(g, gh, m)) }, "h", "mid")
      val doShrink = candVolume >= shrinkFloor
      val kr =
        if (doShrink) keyedRows(mids).localCheckpoint(true)
        else keyedRows(mids)
      val okRows = classStats(kr).groupBy("gid", "mid")
        .agg(max(col("ok")).as("ok"))
        .collect().map(r =>
          (r.get(0), r.getLong(1)) -> (!r.isNullAt(2) && r.getBoolean(2)))
        .toMap
      val loRaised = scala.collection.mutable.ListBuffer.empty[(Any, Long)]
      act.foreach { case (g, gh, ms) =>
        val (_, lo0, hi0) = state(g)
        var lo = lo0
        var hi = hi0
        ms.sorted.foreach { m =>
          if (okRows.getOrElse((g, m), false)) { if (m > lo) lo = m }
          else if (m < hi) hi = m
        }
        state(g) = (gh, lo, hi)
        if (lo > lo0) loRaised += ((g, lo))
      }
      if (doShrink && loRaised.nonEmpty) {
        tag("shrink")
        val loDf = broadcast(localGids(
          loRaised.toSeq.map { case (g, l) => Seq(g, l) }, "mid"))
        // checkpointed: consumed by BOTH shrink joins, and a lazy
        // groupBy-derived relation here gets misestimated as
        // broadcast-small — on a corpus whose lo-classes are
        // common-word-sized that blows the 8 GB broadcast ceiling
        val keptPos = qualify(
            kr.join(loDf, Seq("gid", "mid"), "left_semi"),
            Seq("gid", "mid", "key"))
          .select("gid", "pos")
          .localCheckpoint(true)
        val shrGids = broadcast(localGids(loRaised.toSeq.map(p => Seq(p._1))))
        def shrink(c: DataFrame): DataFrame =
          c.join(shrGids, Seq("gid"), "left_anti")
            .unionByName(c.join(keptPos, Seq("gid", "pos"), "left_semi"))
            .localCheckpoint(true)
        candH = shrink(candH)
        cand0 = shrink(cand0)
        candVolume = candH.count() + cand0.count()
      }
    }

    // witness: the minimum qualifying (key, pos) at m* — key order is
    // prefix order, so this is the lexicographically smallest repeat,
    // anchored at its smallest position (the house determinism rule)
    val wmids = localGids(state.toSeq.collect {
      case (g, (gh, lo, _)) if lo >= 1 => Seq(g, gh, lo)
    }, "h", "mid")
    val wit = classStats(keyedRows(wmids)).where(col("ok"))
      .groupBy("gid").agg(min(struct(col("key"), col("p"))).as("w"))
      .select(col("gid"), col("w.p").as("rep_pos"))
    localGids(state.toSeq.map { case (g, (_, lo, _)) => Seq(g, lo) },
        "rep_len")
      .join(wit, Seq("gid"), "left")
  }

  /** (gid, rep_len, rep_pos) with rep_pos null when rep_len = 0;
    * every gid with ≥ 1 (real) position reports. The tie-pruned
    * search is class-bounded past round 0 (see the STABLE RANKS note
    * above); round 0 itself dispatches groups past `giantThreshold`
    * to the wide gram/stable-rank form.
    */
  private def maxRepeat(codes: DataFrame, maxRounds: Int,
      cross: Boolean, giantThreshold: Long,
      tieMassBudget: Long): DataFrame =
    JobPhase.scoped(codes.sparkSession.sparkContext,
        if (cross) "repeat(cross)" else "repeat(within)") { tag =>
      maxRepeatImpl(codes, maxRounds, cross, giantThreshold, tieMassBudget, tag)
    }

  // ------------------------------------------------------------------
  // applications
  // ------------------------------------------------------------------

  /** Longest repeated substring per document — THE suffix-array
    * application: the longest text that occurs at two different
    * positions equals the maximum LCP over RANK-ADJACENT suffix pairs
    * (any two occurrences' suffixes share that prefix, and moving
    * closer in rank order never shrinks an LCP). Documents whose
    * suffixes all diverge immediately report ('', 0).
    *
    * Documents up to `giantThreshold` chars run the direct form: one
    * lead window over rank order, one in-place LCP scan per adjacent
    * pair batched per document (`lcp_pairs` — no suffix copies), then
    * an argmax with the house deterministic tie-break
    * (lexicographically smallest witness). Giant documents — where
    * both the adjacency window and the per-doc pair array would be
    * bounded by one document's size — reroute to the class
    * binary-search core, which needs neither.
    */
  def longestRepeatedSubstring(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxRounds: Int = 40,
      giantThreshold: Long = GiantGroupThreshold,
      tieMassBudget: Long = TieMassBudget): DataFrame = {
    val base = docs
      .where(col(textCol).isNotNull && length(col(textCol)) >= 1)
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .localCheckpoint(true) // consumers: small path (2) + giant path
    val giantDocs = base.where(length(col("text")) > giantThreshold)
    val hasGiants = giantDocs.limit(1).count() > 0
    val smallBase =
      if (hasGiants) base.where(length(col("text")) <= giantThreshold)
      else base
    val small = lrsDirect(smallBase, maxRounds, giantThreshold)
    if (!hasGiants) small
    else {
      val codes = giantDocs
        .select(col("doc_id").as("gid"),
          posexplode(split(col("text"), "")).as(Seq("p0", "ch")))
        .select(col("gid"), (col("p0") + 1).as("pos"),
          ascii(col("ch")).as("c0"))
      val rep = maxRepeat(codes, maxRounds, cross = false,
        giantThreshold, tieMassBudget)
      val giant = giantDocs
        .join(rep.withColumnRenamed("gid", "doc_id"), Seq("doc_id"))
        .select(col("doc_id"), col("rep_len").as("lrs_len"),
          coalesce(col("text").substr(col("rep_pos").cast("int"),
            col("rep_len").cast("int")), lit("")).as("lrs"))
      small.unionByName(giant)
    }
  }

  /** The window-path LRS: rank-adjacent pairs + per-doc batched LCP
    * scan. Pair arrays are bounded by the document length (one pair
    * per suffix) — document-sized driver-free state, why this form is
    * reserved for sub-threshold documents.
    */
  private def lrsDirect(base: DataFrame, maxRounds: Int,
      giantThreshold: Long): DataFrame = {
    val sr = suffixRanks(base, "doc_id", "text", maxRounds, giantThreshold)
    // rank-adjacent pairs via lead over rank order — the same
    // per-doc window family as the ranking rounds, no self-join
    val pairs = sr
      .withColumn("pos_b", lead(col("pos"), 1).over(
        Window.partitionBy("doc_id").orderBy("suffix_rank")))
      .where(col("pos_b").isNotNull)
      .select(col("doc_id"), col("pos").as("pos_a"), col("pos_b"))
    // fold each doc's pairs into ONE array row before touching text:
    // the LCP scan needs the document string, and joining it onto
    // every pair row re-ships ~n characters per PAIR; per-doc it
    // ships them once.
    val perDoc = pairs.groupBy("doc_id")
      .agg(collect_list(struct(col("pos_a"), col("pos_b"))).as("ps"))
    // lcp_pairs: ALL of a doc's pair LCPs in one evaluation — a
    // per-pair scalar inside transform() re-decodes the whole text
    // every element (UTF8String.toString is a full copy)
    base.join(perDoc, Seq("doc_id"), "left")
      .withColumn("lcps", graft.functions.TextHashExpressions
        .lcp_pairs(col("text"), col("ps")))
      .withColumn("lrs_len",
        coalesce(array_max(col("lcps")), lit(0)).cast("long"))
      .withColumn("lrs",
        coalesce(
          array_min(transform(
            filter(
              zip_with(col("ps"), col("lcps"), (p, l) =>
                struct(p.getField("pos_a").as("pos_a"), l.as("l"))),
              x => x.getField("l") === col("lrs_len")),
            x => col("text").substr(x.getField("pos_a"),
              col("lrs_len").cast("int")))),
          lit("")))
      .select(col("doc_id"), col("lrs_len"), col("lrs"))
  }

  /** Cross-document repeated text per group (the GENERALIZED suffix
    * array): each group's documents, doc_id-ordered and joined with a
    * sentinel, form one virtual string; the longest substring of it
    * occurring at two positions IN DIFFERENT DOCUMENTS is the group's
    * shared-boilerplate measure — found exactly, at any length, where
    * the gram families see only >= l-gram repeats.
    *
    * Sentinel positions (code 1 < every text char) carry a null
    * owning-doc tag: they participate in ranking (a repeat may span a
    * sentinel — both engines state the same concatenation, so the
    * corner is defined, not divergent) but never in a class's
    * membership count. The answer comes from the class binary-search
    * core: NO rank-adjacency window, NO per-group pair array, NO
    * concatenated-text row — the concatenation exists only as
    * (group, global-pos, code) rows, and the witness string is
    * assembled at the end from just the documents its [pos, pos+len)
    * interval overlaps. Positions are LONG, and a group past
    * `giantThreshold` characters (the concatenation grows with the
    * corpus) dispatches the search's round 0 — its only
    * group-bounded stage — to the wide gram + class-level
    * range-partitioned stable rank instead of sorting the whole
    * group in one task; the tie-pruned levels after round 0 are
    * class-bounded for every group size.
    *
    * BUDGETED: the frozen-level tie mass — the refinement loop's
    * per-level volume — is counted before the loop and refused past
    * `tieMassBudget` with a diagnosis naming the d35/p07 span faces
    * (see [[TieMassBudget]]): repeat-dense corpora hold that loop
    * super-linear, and this operator refuses loudly rather than
    * silently running for hours (the containment-guard discipline).
    */
  def crossDocRepeats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", srcCol: String = "source",
      maxRounds: Int = 40,
      giantThreshold: Long = GiantGroupThreshold,
      tieMassBudget: Long = TieMassBudget): DataFrame = {
    val nn = docs
      .where(col(textCol).isNotNull && length(col(textCol)) >= 1)
      .select(col(srcCol).as("gid"), col(idCol).as("doc_id"),
        col(textCol).as("text"))
    // 0-based offset of each doc in its group's sentinel-joined
    // concatenation: cumsum of (len + 1) over the doc_id order
    val off = nn.withColumn("off",
      coalesce(sum(length(col("text")).cast("long") + 1L).over(
        Window.partitionBy("gid").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .localCheckpoint(true) // feeds codes and the witness
    // the owning doc rides the loop as the `tag` passthrough
    // (sentinel rows: null tag — ranked but never class members)
    val chars = off
      .select(col("gid"), col("doc_id"), col("off"),
        posexplode(split(col("text"), "")).as(Seq("p0", "ch")))
      .select(col("gid"), (col("off") + col("p0") + 1).as("pos"),
        ascii(col("ch")).as("c0"), col("doc_id").as("tag"))
    val sentinels = off.where(col("off") > 0)
      .select(col("gid"), col("off").as("pos"),
        lit(1).as("c0"), lit(null).cast("long").as("tag"))
    val rep = maxRepeat(chars.unionByName(sentinels), maxRounds,
      cross = true, giantThreshold, tieMassBudget)
    // witness assembly: only the documents overlapping the winning
    // [rep_pos, rep_pos+rep_len) interval ship text — witness-sized
    // output, never group-sized state. A doc owns global chars
    // [off+1, off+len] and (when off > 0) the sentinel at `off`;
    // consecutive overlapping docs are exactly sentinel-separated, so
    // array_join with the sentinel reassembles the interval (empty
    // trailing pieces keep a boundary sentinel that the interval
    // covers).
    val win = rep.where(col("rep_len") >= 1)
      .select(col("gid"), col("rep_pos"), col("rep_len"),
        (col("rep_pos") + col("rep_len") - 1).as("rep_end"))
    val pieces = off.join(win, Seq("gid"))
      .where(when(col("off") === 0, lit(1L)).otherwise(col("off"))
          <= col("rep_end") &&
        (col("off") + length(col("text"))) >= col("rep_pos"))
      .withColumn("s", greatest(col("rep_pos"), col("off") + 1))
      .withColumn("e",
        least(col("rep_end"), col("off") + length(col("text"))))
      .select(col("gid"), col("off"),
        when(col("e") >= col("s"),
          col("text").substr((col("s") - col("off")).cast("int"),
            (col("e") - col("s") + 1).cast("int")))
          .otherwise(lit("")).as("piece"))
    val assembled = pieces.groupBy("gid")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("off"), col("piece")))),
        x => x.getField("piece")), "").as("witness"))
    rep.join(assembled, Seq("gid"), "left")
      .select(col("gid").as("source"),
        col("rep_len").as("cross_len"),
        coalesce(col("witness"), lit("")).as("witness"))
  }

  /** EXACT repeated-span REMOVAL per document — the rewrite face of
    * the suffix-array family (Lee et al. 2022's ExactSubstr dedup,
    * within-document form): every position covered by a repeated
    * substring of length >= `minLen` is cut, ALL occurrences (their
    * choice: cut every duplicated span exactly; d20 is the sampled
    * cross-document sibling). Detection IS d30/d31's machinery — a
    * position p starts a repeated span of length l iff some
    * rank-adjacent suffix pair touching p has LCP >= l, so the span
    * set is, per adjacent pair (a, b) with LCP l >= minLen, the two
    * intervals [a, a+l) and [b, b+l); coverage is their union, merged
    * per document (the d19→d20 island discipline), and the kept text
    * is the complement fold.
    *
    * Returns one row per non-null-text document: (idCol, n_chars,
    * n_kept_chars, cleaned). Scale shape: the d31 chain (ranks +
    * per-doc batched LCPs) plus one per-doc island merge — every
    * window bounded by a document, never the corpus — for documents
    * up to `giantThreshold` chars. GIANT documents, where the
    * doc-bounded pair window and collect_list array would themselves
    * be the cliff, reroute to an equivalent form with no doc-bounded
    * stage at all: repeated-span coverage at threshold minLen equals
    * repeated minLen-WINDOW coverage (every window inside a repeated
    * span recurs with it; a repeated window is such a span), so the
    * giant path detects duplicated windows by literal gram equality
    * ([[gatherGrams]] — one balanced shuffle) and cuts by
    * anti-joining covered positions ([[cutCoveredGiant]]). Both paths
    * are byte-equal by the identity (spec-proven).
    */
  def removeRepeatedSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minLen: Int = 16,
      maxRounds: Int = 40,
      giantThreshold: Long = GiantGroupThreshold): DataFrame = {
    require(minLen >= 1, s"minLen must be >= 1 (got $minLen)")
    val base = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .localCheckpoint(true)
    val giantBase = base.where(length(col("text")) > giantThreshold)
    val hasGiants = giantBase.limit(1).count() > 0
    val smallBase =
      if (hasGiants) base.where(length(col("text")) <= giantThreshold)
      else base
    val small = removeSpansDirect(smallBase, minLen, maxRounds,
      giantThreshold)
    if (!hasGiants) small
    else {
      // GIANT documents reroute around both doc-bounded stages of the
      // direct form (the rank-adjacency window and the per-doc
      // collect_list pair array) via the GRAM-COVERAGE identity:
      // the union of repeated spans of length >= minLen equals the
      // union of repeated minLen-WINDOWS — every minLen-window inside
      // a repeated span [p, p+l) recurs at the twin occurrence, and
      // conversely a repeated window IS such a span — so detection is
      // one balanced gram assembly + a (doc, gram) groupBy, exact by
      // literal string equality, with no window or array bounded by
      // the document.
      val grams = gatherGrams(giantBase, minLen).localCheckpoint(true)
      // hint("merge"): the duplicated-gram list can be doc-scale on a
      // repeat-dense document — the tieScan misestimated-broadcast rule
      val dup = grams.groupBy("doc_id", "gram")
        .agg(count(lit(1)).as("__m")).where(col("__m") >= 2)
        .select("doc_id", "gram").hint("merge")
      val starts = grams.join(dup, Seq("doc_id", "gram"), "left_semi")
        .select("doc_id", "pos")
      small.unionByName(cutCoveredGiant(giantBase, starts, minLen))
    }
  }

  /** The direct (sub-threshold) span-removal chain: d31's rank +
    * batched-LCP machinery, spans from BOTH sides of each qualifying
    * adjacent pair, then the island/complement fold ([[cutSpans]]).
    * Every window and array here is bounded by a document — why this
    * form is reserved for documents under the giant threshold.
    */
  private def removeSpansDirect(base: DataFrame, minLen: Int,
      maxRounds: Int, giantThreshold: Long): DataFrame = {
    val sr = suffixRanks(base, "doc_id", "text", maxRounds, giantThreshold)
    val pairs = sr
      .withColumn("pos_b", lead(col("pos"), 1).over(
        Window.partitionBy("doc_id").orderBy("suffix_rank")))
      .where(col("pos_b").isNotNull)
      .select(col("doc_id"), col("pos").as("pos_a"), col("pos_b"))
    val perDoc = pairs.groupBy("doc_id")
      .agg(collect_list(struct(col("pos_a"), col("pos_b"))).as("ps"))
    // both sides of every qualifying pair become spans (start, len)
    val spans = base.join(perDoc, Seq("doc_id"), "left_semi")
      .join(perDoc, Seq("doc_id"))
      .withColumn("lcps", graft.functions.TextHashExpressions
        .lcp_pairs(col("text"), col("ps")))
      .select(col("doc_id"), explode(flatten(
        zip_with(col("ps"), col("lcps"), (p, l) => when(l >= minLen,
          array(struct(p.getField("pos_a").cast("long").as("s"),
            l.cast("long").as("l")),
            struct(p.getField("pos_b").cast("long").as("s"),
              l.cast("long").as("l"))))
          .otherwise(array().cast("array<struct<s:long,l:long>>")))))
        .as("sp"))
      .select(col("doc_id"), col("sp.s").as("s"),
        (col("sp.s") + col("sp.l") - 1).as("e"))
    cutSpans(base, spans)
  }

  /** Island merge + complement fold over inclusive [s, e] char spans:
    * merge overlaps into maximal islands (per-DOC window only — d19's
    * mergeSpanIslands shape, char-based, variable width), then stitch
    * the uncovered text back with pure column math. One row per
    * `base` document: (doc_id, n_chars, n_kept_chars, cleaned).
    * Shared by the within-doc (d34) and cross-doc (d35) removal
    * faces, so the two rewrites cannot drift. `extraCols` (e.g. the
    * owning source) ride `base` through to the output.
    */
  private def cutSpans(base: DataFrame, spans: DataFrame,
      extraCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("s"), col("e"))
    val prevEnd = max(col("e"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val islands = spans
      .withColumn("__brk",
        when(col("s") > coalesce(prevEnd, lit(0L)) + 1L, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("cuts"))
    // the complement fold: head + per-gap substrings + tail — islands
    // are disjoint and sorted, so the fold is pure column math
    val cleaned = expr(
      """CASE WHEN cuts IS NULL THEN text ELSE concat(
        |  substring(text, 1, cast(element_at(cuts, 1).s as int) - 1),
        |  array_join(zip_with(
        |    slice(cuts, 1, size(cuts) - 1), slice(cuts, 2, size(cuts) - 1),
        |    (c, cn) -> substring(text, cast(c.e as int) + 1,
        |      cast(cn.s - c.e as int) - 1)), ''),
        |  substring(text, cast(element_at(cuts, -1).e as int) + 1)) END
        |""".stripMargin)
    base.join(islands, Seq("doc_id"), "left")
      .withColumn("cleaned", cleaned)
      .select(Seq(col("doc_id")) ++ extraCols.map(col) ++
        Seq(length(col("text")).cast("long").as("n_chars"),
          length(col("cleaned")).cast("long").as("n_kept_chars"),
          col("cleaned")): _*)
  }

  /** (doc_id, pos, gram): every full minLen-char window of each
    * document, assembled from per-char rows by ONE balanced
    * CHUNKED scan-local assembly (round 12 — replacing the
    * per-char slot-explode + (doc, window-start) re-group, whose
    * shuffle carried minLen × chars ROWS: 120M for one 6M-char giant
    * at minLen 20, the giant rows' dominant cost): the doc row
    * explodes into ⌈(n−minLen+1)/C⌉ chunk indices, each chunk
    * projects a (C+minLen−1)-char slice — windows crossing a chunk
    * boundary belong to the chunk on their left — and grams emit
    * from a CHUNK-local transform-over-sequence, all inside the scan
    * stage: gatherGrams itself now shuffles NOTHING. Nothing is
    * bounded by a document: the only arrays are chunk-sized
    * (C × minLen chars, a few MB by construction — never the
    * doc-sized array a 100 MB outlier must avoid) and there is no
    * per-doc window. Output volume is still minLen × chars — the
    * exactness price — but it rides the downstream consumer's one
    * balanced shuffle instead of paying an extra assembly shuffle
    * first. Grams are literal strings, so downstream equality is
    * never probabilistic. Byte-equal to the slot-explode form by the
    * window identity (spec-pinned via the giant-path equality
    * specs).
    */
  private def gatherGrams(base: DataFrame, minLen: Int): DataFrame = {
    val c = 8192L // chunk width: 8k grams/row → ≤ ~2 MB arrays at minLen 250
    base
      .select(col("doc_id"), length(col("text")).cast("long").as("n"),
        col("text"))
      .where(col("n") >= minLen)
      .select(col("doc_id"), col("n"), col("text"),
        explode(expr(s"sequence(0L, (n - $minLen) div $c)")).as("ci"))
      .select(col("doc_id"), (col("ci") * c).as("base0"),
        least(lit(c), col("n") - (minLen - 1) - col("ci") * c).as("k"),
        col("text").substr((col("ci") * c + 1).cast("int"),
          lit((c + minLen - 1).toInt)).as("chunk"))
      .select(col("doc_id"), col("base0"),
        posexplode(expr(s"""transform(sequence(1, cast(k as int)),
          |  j -> substring(chunk, j, $minLen))""".stripMargin))
          .as(Seq("j0", "gram")))
      .select(col("doc_id"), (col("base0") + col("j0") + 1).as("pos"),
        col("gram"))
  }

  /** The giant-document cut: covered positions from fixed-width
    * starts by one explode + anti-join over per-char rows, the kept
    * text reassembled chunk-wise (1M-char pieces, then one
    * output-sized concat per document) — never a doc-bounded window
    * or a doc-sized intermediate array. Output matches [[cutSpans]]'s
    * schema and, by the gram-coverage identity, its bytes.
    */
  private def cutCoveredGiant(giantBase: DataFrame, starts: DataFrame,
      minLen: Int, extraCols: Seq[String] = Nil): DataFrame = {
    val chunkChars = 1L << 20
    // per-char rows via CHUNK-local split (round 12): the doc-level
    // split(text, "") materialized a doc-sized array per giant row —
    // the very shape this path exists to avoid; chunking first keeps
    // every intermediate array ≤ 64k elements with identical output
    val cw = 1L << 16
    val chars = giantBase
      .select(col("doc_id"), length(col("text")).cast("long").as("n"),
        col("text"))
      .select(col("doc_id"), col("text"),
        explode(expr(s"sequence(0L, (n - 1) div $cw)")).as("ci"))
      .select(col("doc_id"), (col("ci") * cw).as("cb"),
        posexplode(split(col("text")
          .substr((col("ci") * cw + 1).cast("int"), lit(cw.toInt)), ""))
          .as(Seq("p0", "ch")))
      .select(col("doc_id"), (col("cb") + col("p0") + 1).as("pos"),
        col("ch"))
    val covered = starts.select(col("doc_id"),
      explode(sequence(col("pos").cast("long"),
        col("pos").cast("long") + (minLen - 1))).as("pos"))
    val kept = chars.join(covered, Seq("doc_id", "pos"), "left_anti")
    val pieces = kept
      .withColumn("__chunk", expr(s"(pos - 1) div $chunkChars"))
      .groupBy("doc_id", "__chunk")
      .agg(count(lit(1)).as("__k"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("ch")))),
          x => x.getField("ch")), "").as("__piece"))
    val assembled = pieces.groupBy("doc_id")
      .agg(sum("__k").as("n_kept_chars"),
        array_join(transform(
          array_sort(collect_list(struct(col("__chunk"), col("__piece")))),
          x => x.getField("__piece")), "").as("cleaned"))
    giantBase.join(assembled, Seq("doc_id"), "left")
      .select(Seq(col("doc_id")) ++ extraCols.map(col) ++
        Seq(length(col("text")).cast("long").as("n_chars"),
          coalesce(col("n_kept_chars"), lit(0L)).as("n_kept_chars"),
          coalesce(col("cleaned"), lit("")).as("cleaned")): _*)
  }

  /** Cross-document EXACT span removal per source (d35 — Lee et al.
    * 2022's ExactSubstr dedup at its REAL granularity): every
    * position covered by a span of length >= `minLen` whose text
    * occurs in >= 2 DISTINCT documents of the same source is cut, in
    * ALL occurrences (cut-all, the d34/d20 rule stated as the
    * operator's contract; d32 finds the longest such span, this cuts
    * every one). Within-doc-only repeats are NOT cut — that is d34's
    * face; here a span qualifies only with a witness in another
    * document.
    *
    * Detection is the GRAM-COVERAGE identity in its cross form: the
    * union of qualifying spans equals the union of minLen-WINDOWS
    * whose literal text occurs in >= 2 distinct docs of the source
    * (every window inside a qualifying span recurs in the witness
    * doc; a multi-doc window is itself a qualifying span). So the
    * whole operator is one gram pass + one (source, gram)
    * distinct-doc count + the d34 cut faces — NO stage bounded by a
    * source or a document: sub-threshold docs emit grams inside the
    * scan task and cut via the island/complement fold ([[cutSpans]]);
    * docs past `giantThreshold` route through [[gatherGrams]] /
    * [[cutCoveredGiant]] like d34's giants. Gram equality is literal
    * string equality — exact, never probabilistic. The data-sized
    * shuffle carries the minLen-char keys themselves: an 8-byte
    * `xxhash64` key with literal re-verification of the candidates
    * measured slower on every corpus tried, mostly-clean ones
    * included (SCALING.md, "One gram carrier").
    *
    * Returns one row per non-null-text document:
    * (doc_id, source, n_chars, n_kept_chars, cleaned).
    */
  def crossDocSpanRemoval(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", srcCol: String = "source",
      minLen: Int = 16,
      giantThreshold: Long = GiantGroupThreshold): DataFrame =
    crossSpanImpl(docs, idCol, textCol, srcCol, minLen, giantThreshold,
      index = None)

  /** The persistable cross-span GRAM INDEX (d36 — d35's settle face,
    * the d27→d28 / d29→d33 pattern): per (source, gram), the count of
    * DISTINCT documents containing that minLen-window. At 100 TB this
    * is one parquet table a daily job reads back; refresh cost ∝ the
    * batch — history documents never re-tokenize.
    */
  def crossSpanIndex(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", srcCol: String = "source",
      minLen: Int = 16,
      giantThreshold: Long = GiantGroupThreshold): DataFrame = {
    // Round 13: per-doc gram DEDUP happens inside the scan task
    // (array_distinct over the doc's window array — doc-sized arrays
    // are the sub-threshold budget), so each (doc, gram) ships ONCE
    // and a plain map-side-combined count(*) IS the distinct-doc
    // count. Replaces countDistinct's two data-sized exchanges with
    // one, and the exchange itself carries fewer rows (within-doc
    // repeats collapse at the source). Giant docs' grams come from
    // the balanced gatherGrams and dedupe with one giant-sized
    // distinct — giants are few by definition.
    val (smallBase, giantBase, hasGiants) =
      prepCross(docs, idCol, textCol, srcCol, giantThreshold)
    val smallDocGrams = smallBase
      .where(length(col("text")) >= minLen)
      .select(col("doc_id"), col("source"),
        explode(expr(
          s"""array_distinct(transform(
             |  sequence(1, length(text) - ${minLen - 1}),
             |  i -> substring(text, i, $minLen)))""".stripMargin))
          .as("gram"))
    val docGrams =
      if (!hasGiants) smallDocGrams
      else smallDocGrams.unionByName(
        gatherGrams(giantBase, minLen)
          .join(broadcast(giantBase.select("doc_id", "source")), Seq("doc_id"))
          .select("doc_id", "source", "gram").distinct())
    docGrams.groupBy("source", "gram").agg(count(lit(1)).as("n_docs"))
  }

  /** Merge two [[crossSpanIndex]] relations built from DISJOINT
    * document sets: a doc contributes to exactly one side, so
    * per-(source, gram) distinct-doc counts ADD — pure algebra, no
    * re-tokenization (the winnowIndexMerge argument at gram
    * granularity). Overlapping doc sets would double-count; the
    * caller owns the batch partitioning, as in d28/d33.
    */
  def crossSpanIndexMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("source", "gram")
      .agg(sum(col("n_docs")).as("n_docs"))

  /** [[crossDocSpanRemoval]] with the multi-doc gram set taken from a
    * (possibly merged) [[crossSpanIndex]] instead of recounted from
    * the corpus — byte-identical output when the index covers exactly
    * `docs` (hash-proven through d35's oracle by the d28 shared-gate
    * discipline).
    */
  def crossDocSpanRemovalFromIndex(docs: DataFrame, index: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      srcCol: String = "source", minLen: Int = 16,
      giantThreshold: Long = GiantGroupThreshold): DataFrame =
    crossSpanImpl(docs, idCol, textCol, srcCol, minLen, giantThreshold,
      index = Some(index))

  /** (smallBase, giantBase, hasGiants) split of the non-null-text
    * corpus on `giantThreshold`.
    */
  private def prepCross(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String, giantThreshold: Long)
      : (DataFrame, DataFrame, Boolean) = {
    val base = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), col(srcCol).as("source"),
        col(textCol).as("text"))
      .localCheckpoint(true)
    val giantBase = base.where(length(col("text")) > giantThreshold)
    val hasGiants = giantBase.limit(1).count() > 0
    val smallBase =
      if (hasGiants) base.where(length(col("text")) <= giantThreshold)
      else base
    (smallBase, giantBase, hasGiants)
  }

  /** (doc_id, source, pos, gram, __giant) for every full minLen-char
    * window: sub-threshold docs materialize their gram array inside
    * the scan task (doc-sized array rows are fine under the threshold
    * — the same budget the direct d34 path runs on); giant docs via
    * the balanced [[gatherGrams]]. `__giant` tags which cut face a
    * start belongs to without a second membership join.
    */
  private def crossGrams(split: (DataFrame, DataFrame, Boolean),
      minLen: Int): DataFrame = {
    val (smallBase, giantBase, hasGiants) = split
    val gramsSmall = smallBase
      .where(length(col("text")) >= minLen)
      .select(col("doc_id"), col("source"),
        posexplode(expr(
          s"""transform(sequence(1, length(text) - ${minLen - 1}),
             |  i -> substring(text, i, $minLen))""".stripMargin))
          .as(Seq("p0", "gram")))
      .select(col("doc_id"), col("source"),
        (col("p0") + 1).cast("long").as("pos"), col("gram"),
        lit(false).as("__giant"))
    if (!hasGiants) gramsSmall
    else gramsSmall.unionByName(gatherGrams(giantBase, minLen)
      .join(broadcast(giantBase.select("doc_id", "source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("pos").cast("long").as("pos"),
        col("gram"), lit(true).as("__giant")))
  }

  /** The one cross-span body, behind [[crossDocSpanRemoval]] and
    * [[crossDocSpanRemovalFromIndex]]: literal grams → the multi-doc
    * (source, gram) set (counted here, or read off the index) →
    * qualifying window starts → the d34 island/complement fold for
    * sub-threshold docs, the covered-position anti-join for giants.
    */
  private def crossSpanImpl(docs: DataFrame, idCol: String,
      textCol: String, srcCol: String, minLen: Int,
      giantThreshold: Long, index: Option[DataFrame]): DataFrame = {
    require(minLen >= 1, s"minLen must be >= 1 (got $minLen)")
    val split = prepCross(docs, idCol, textCol, srcCol, giantThreshold)
    val (smallBase, giantBase, hasGiants) = split
    val grams = crossGrams(split, minLen)
      .localCheckpoint(true) // multi-doc count + starts
    // hint("merge"): the multi-doc gram list can be corpus-scale on a
    // boilerplate-heavy corpus — the tieScan misestimated-broadcast rule
    val multi = index.map(_.where(col("n_docs") >= 2))
      .getOrElse(
        // the ONE-PASS multi-doc test (round 13): a (source, gram)
        // group holds >= 2 distinct docs iff its min and max doc_id
        // differ — exactly countDistinct(doc_id) >= 2, but min/max
        // are plain declarative partial aggregates, so the test costs
        // ONE map-side-combined Exchange where countDistinct paid two
        // data-sized ones (partial-dedup on (source, gram, doc_id),
        // re-shuffle, recount). Same rows out, byte-identical result.
        grams.groupBy("source", "gram")
          .agg(min(col("doc_id")).as("__dmin"),
            max(col("doc_id")).as("__dmax"))
          .where(col("__dmin") =!= col("__dmax")))
      .select("source", "gram").hint("merge")
    val starts0 = grams.join(multi, Seq("source", "gram"), "left_semi")
      .select("doc_id", "pos", "__giant")
    val starts = if (hasGiants) starts0.localCheckpoint(true) else starts0
    val spansSmall = starts.where(!col("__giant"))
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + (minLen - 1)).as("e"))
    val small = cutSpans(smallBase, spansSmall, Seq("source"))
    if (!hasGiants) small
    else small.unionByName(cutCoveredGiant(giantBase,
      starts.where(col("__giant")).select("doc_id", "pos"),
      minLen, Seq("source")))
  }
}
