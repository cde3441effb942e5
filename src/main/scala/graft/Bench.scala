package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark entry (driver contract, BASELINE.md): runs every
  * SparkEntry query against SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Each query is forced to full materialization with a checksum
  * aggregate over every output column (a bare count() would let Catalyst
  * prune projections and under-report). The checksum is
  * `bit_xor(xxhash64(cols))`: XOR is closed under 64 bits, so unlike
  * `sum(...)` it cannot hit Spark 4's ANSI BIGINT-overflow error on
  * full-range hash values. One untimed warmup pass runs first so
  * JIT/codegen/parquet-footer costs don't land on whichever query
  * happens to run first.
  *
  * Failures are never swallowed: a query that throws is recorded with
  * its error class in the output JSON (`"errors":{...}`) and excluded
  * from the total, so a broken query is visible instead of timing as
  * "fast". The final stdout line is a COMPACT scalar summary (the
  * harness parses only a bounded tail of stdout); the full metric JSON
  * with per-query and anchor maps is written to BENCH_OUT (default
  * bench_out.json).
  */
object Bench {

  private def force(df: DataFrame): Unit = {
    val cs = df.columns.map(col)
    df.agg(count(lit(1)), bit_xor(xxhash64(cs: _*))).head()
    ()
  }

  /** Per-query isolation: several operators pin eager localCheckpoints
    * (stage boundaries in the pipeline, the prefix index in d11, the
    * greedy steps in s12) that CANNOT be unpersisted before their
    * result materializes — lineage is truncated at the checkpoint — so
    * they are released here, BETWEEN queries, once the result has been
    * consumed. Without this the block manager accumulates every
    * checkpoint of every query × pass, and the iterative CC family
    * measurably degrades mid-suite (c04 4.4 s solo vs 11.5 s late in a
    * leaky full run).
    */
  private def released(spark: SparkSession): Unit = {
    // BLOCKING unpersist: the non-blocking variant only enqueues block
    // removals, so with a fast query cadence the block manager still
    // carries N queries' checkpoint blocks at once — exactly the
    // late-suite pressure this hook exists to prevent (checkpoint-heavy
    // queries measured ~2x slower late-suite than solo despite the old
    // async sweep).
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
    // ContextCleaner reclaims broadcast/shuffle/accumulator state only
    // when a GC collects the weak references — and a 24 GB heap under a
    // ~1 GB working set can go hundreds of queries without one, so the
    // executor accumulates every query's broadcast blocks and shuffle
    // files. The GC cadence is a measured optimum (BENCH_GC_EVERY to
    // A/B): every query costs each NEXT timed query ~0.2-0.7 s of
    // post-GC re-warmup (suite 180 s); never lets the accumulation
    // compound catastrophically (suite 404 s); every ~10 amortizes the
    // re-warmup to noise while keeping the pressure bounded. The
    // 120 ms pause lets the cleaner thread — which polls its reference
    // queue on a 100 ms tick — drain the newly-enqueued refs before
    // the next query starts.
    if (sinceGc.incrementAndGet() % gcEvery == 0) {
      System.gc()
      Thread.sleep(120)
    }
  }

  private val sinceGc = new java.util.concurrent.atomic.AtomicInteger(0)
  private lazy val gcEvery =
    sys.env.getOrElse("BENCH_GC_EVERY", "10").toInt

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => "\\u%04x".format(c.toInt)
      case c             => c.toString
    }

  /** 1-minute load average, or -1 outside Linux — recorded before and
    * after the run so a noisy-neighbor-inflated bench is identifiable
    * from the JSON alone (round-2 numbers swung ±50% under load).
    */
  private def loadAvg(): Double =
    try {
      val s = new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
        StandardCharsets.UTF_8)
      s.split(' ').head.toDouble
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  def main(args: Array[String]): Unit = {
    // Load gate: two consecutive rounds shipped official artifacts that
    // were invalid or load-contaminated (r7 started at loadavg 9.9, r8
    // at 5.99). Don't refuse — the harness run must still produce an
    // artifact — but WAIT (bounded) for the machine to drain, then tag
    // the artifact "clean"/"contaminated" so a hot start is adjudicable
    // from the JSON alone.
    val loadGateMax =
      sys.env.getOrElse("BENCH_LOAD_GATE", "2.0").toDouble
    val loadWaitSecs =
      sys.env.getOrElse("BENCH_LOAD_WAIT_SECS", "120").toInt
    var waited = 0
    while (loadAvg() > loadGateMax && waited < loadWaitSecs) {
      System.err.println(
        f"bench: loadavg ${loadAvg()}%.2f > $loadGateMax%.1f — waiting " +
          s"(${waited}s/${loadWaitSecs}s)")
      Thread.sleep(5000); waited += 5
    }
    val loadBefore = loadAvg()
    val loadGate = if (loadBefore <= loadGateMax) "clean" else "contaminated"
    if (loadGate == "contaminated")
      System.err.println(
        f"bench: STARTING HOT at loadavg $loadBefore%.2f after ${waited}s " +
          "wait — artifact tagged contaminated")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // BENCH_ONLY=d02_minhash_lsh,d04_ngram_jaccard runs a subset — for
    // iterating on one query without paying the full-suite wall time
    val names = Cli.envSubset("BENCH_ONLY", SparkEntry.queries.keys.toSeq.sorted)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // warmup (untimed): JIT, codegen cache, parquet footers. Errors here
    // are ignored only because the timed pass below records them.
    names.foreach { n =>
      try force(SparkEntry.queries(n)(spark, sfDir))
      catch { case scala.util.control.NonFatal(_) => () }
      finally released(spark)
    }
    def timed(n: String): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        force(SparkEntry.queries(n)(spark, sfDir))
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case scala.util.control.NonFatal(e) =>
          errors(n) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
          None
      } finally released(spark)
    }
    // best of two timed passes: single-pass numbers carry ~±20%
    // same-machine noise at this scale
    val results = names.flatMap { n =>
      (timed(n), timed(n)) match {
        case (Some(a), Some(b)) => Some(n -> math.min(a, b))
        case (Some(a), None)    => Some(n -> a)
        case (None, Some(b))    => Some(n -> b)
        case (None, None)       => None
      }
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) =>
      "\"" + k + "\":\"" + jsonEscape(v) + "\""
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // anchor ratios: each query / d01 (a single map-side-combine groupBy
    // — the simplest stable full-scan job in the suite). Ratios survive
    // noisy neighbors that absolute seconds don't, so cross-round
    // comparisons have a load-independent signal.
    val anchor = results.collectFirst { case ("d01_exact_dedup", v) => v }
    val anchorJson = anchor match {
      case Some(a) if a > 0 =>
        results.map { case (k, v) => "\"" + k + "\":" + (v / a) }
          .mkString("{", ",", "}")
      case _ => "{}"
    }
    // second anchor: the suite median. d01 is a single-stage scan that
    // barely suffers machine contention, so d01-ratios overstate
    // regressions under load; the median of ~90 multi-stage queries
    // absorbs contention the way the suite does, making load distortion
    // diagnosable from the artifact alone (a query whose d01-ratio moved
    // but whose median-ratio didn't regressed with the machine, not the
    // plan).
    val medianSec = {
      val sorted = results.map(_._2).sorted
      if (sorted.isEmpty) 0.0
      else if (sorted.size % 2 == 1) sorted(sorted.size / 2)
      else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2
    }
    val medianRatioJson =
      if (medianSec > 0)
        results.map { case (k, v) => "\"" + k + "\":" + (v / medianSec) }
          .mkString("{", ",", "}")
      else "{}"
    // DRIFT-ROBUST baseline comparison (round 12): the official
    // artifact is graded cross-round, but two same-code official runs
    // measured 14% apart (r10 266.8 s vs an A/B re-run at 306.6 s —
    // box drift the size of a real regression). Normalizing each
    // query by ITS RUN'S suite median cancels machine speed: the
    // committed BENCH_BASELINE.json pins the official per-query map of
    // the most recent round that changed plans intentionally (the
    // SCALING.md re-pin rule), and each run reports per-query
    //   (t_q / median) / (base_q / base_median)
    // plus their geometric mean — a code regression moves specific
    // queries' mednorm ratios while box drift moves none (validated:
    // the r10→r11 +14% raw gap is mednorm gm 1.005).
    val baselinePath = sys.env.getOrElse("BENCH_BASELINE", "BENCH_BASELINE.json")
    val baseline: Option[Map[String, Double]] =
      try {
        val p = Paths.get(baselinePath)
        if (!Files.exists(p)) None
        else {
          import org.json4s._
          val j = jackson.JsonMethods.parse(
            new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
          (j \ "queries") match {
            case JObject(fields) =>
              Some(fields.collect {
                case (k, JDouble(v)) => k -> v
                case (k, JInt(v))    => k -> v.toDouble
                case (k, JLong(v))   => k -> v.toDouble
              }.toMap)
            case _ => None
          }
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    val vsBase: Option[(Double, Seq[(String, Double)])] =
      baseline.flatMap { bq =>
        val bvals = bq.values.toSeq.sorted
        val bMed =
          if (bvals.isEmpty) 0.0
          else if (bvals.size % 2 == 1) bvals(bvals.size / 2)
          else (bvals(bvals.size / 2 - 1) + bvals(bvals.size / 2)) / 2
        if (bMed <= 0 || medianSec <= 0) None
        else {
          val rels = results.collect {
            case (k, v) if bq.get(k).exists(_ > 0) =>
              k -> ((v / medianSec) / (bq(k) / bMed))
          }
          if (rels.isEmpty) None
          else {
            val gm = math.exp(rels.map(r => math.log(r._2)).sum / rels.size)
            Some((gm, rels))
          }
        }
      }
    val anchorSec = anchor.getOrElse(0.0)
    // MECHANIZED OUTLIER ADJUDICATION (round 13): SCALING's grading
    // rule demands a solo re-run for every query whose mednorm-vs-
    // baseline ratio exceeds ~1.3, and in round 12 that pass was a
    // manual step the verdict had to run itself. Now the bench runs it
    // inline: each >1.3 outlier is re-timed once after the suite, with
    // released state and a forced GC (the conditions of a solo
    // BENCH_ONLY run — the r12 adjudications showed in-suite outliers
    // are usually JVM/block-manager accumulation, which this clears).
    // A ratio that collapses here is suite state; one that persists is
    // the real regression list for the round. Cost is bounded: only
    // outliers re-run, once.
    val outliers: Seq[String] =
      vsBase.map(_._2.collect { case (k, r) if r > 1.3 => k })
        .getOrElse(Nil)
    val outlierSolo: Seq[(String, Double)] =
      if (outliers.isEmpty) Nil
      else {
        System.gc(); Thread.sleep(500)
        outliers.flatMap { n =>
          val t0 = System.nanoTime()
          try {
            force(SparkEntry.queries(n)(spark, sfDir))
            Some(n -> (System.nanoTime() - t0) / 1e9)
          } catch {
            case scala.util.control.NonFatal(_) => None
          } finally released(spark)
        }
      }
    val outlierJson = outlierSolo.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val vsBaseScalars = vsBase.map { case (gm, rels) =>
      s""","vs_base_mednorm_gm":$gm,"n_base_shared":${rels.size}"""
    }.getOrElse("")
    val vsBaseJson = vsBase.map { case (_, rels) =>
      rels.map { case (k, r) => "\"" + k + "\":" + r }
        .mkString("{", ",", "}")
    }.getOrElse("{}")
    val loadAfter = loadAvg()
    // DRIVER-VISIBLE PER-QUERY TIMINGS (round 14): the driver parses the
    // LAST stdout line as JSON and stores only a 2000-char tail (every
    // BENCH_r*.json artifact holds exactly 2000 chars), so the full
    // 229-entry per-query map — ~5.6 KB even at ms precision, names
    // alone are ~4 KB — can never ride on that line whole. Two rounds
    // of PERF grading ran blind (per_query empty) because the summary
    // carried no map at all. Compromise: pack as many per-query entries
    // as fit a byte budget that keeps the WHOLE line under the 2000-char
    // tail, most expensive queries first (the perf-relevant ones), with
    // the truncation explicit (n_q_reported / n_q_total — no silent
    // caps). The complete map still lives in BENCH_OUT below.
    def fmt(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val scalarHead =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_ok":${results.size},"n_err":${errors.size},"median_sec":${fmt(medianSec)},"anchor_sec":${fmt(anchorSec)},"total_over_median":${fmt(if (medianSec > 0) total / medianSec else 0.0)}$vsBaseScalars,"n_outliers":${outliers.size},"loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"load_gate":"$loadGate","sf":"$sfDir""""
    val qsCompact: (String, Int) = {
      // stop at the FIRST entry that overflows so the reported set is
      // exactly the top-N by time, not "whatever short names squeezed in"
      val tailFixed = s""","queries":{},"n_q_reported":999,"n_q_total":${results.size}}"""
      val budget = 1980 - scalarHead.length - tailFixed.length
      val sb = new StringBuilder
      var n = 0
      var full = false
      results.sortBy(-_._2).foreach { case (k, v) =>
        if (!full) {
          val entry = (if (n == 0) "" else ",") + "\"" + k + "\":" + fmt(v)
          if (sb.length + entry.length <= budget) { sb ++= entry; n += 1 }
          else full = true
        }
      }
      ("{" + sb.toString + "}", n)
    }
    val summary =
      s"""$scalarHead,"queries":${qsCompact._1},"n_q_reported":${qsCompact._2},"n_q_total":${results.size}}"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"anchor_ratios":$anchorJson,"anchor_query":"d01_exact_dedup","anchor_median_sec":$medianSec,"anchor_ratios_median":$medianRatioJson,"vs_base_mednorm":$vsBaseJson,"baseline_file":"${jsonEscape(baselinePath)}"$vsBaseScalars,"outlier_solo":$outlierJson,"loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"load_gate":"$loadGate","errors":$errJson,"n_ok":${results.size},"n_err":${errors.size},"sf":"$sfDir"}"""
    // a BENCH_ONLY subset is an iteration aid, never the round's perf
    // artifact — writing it to bench_out.json clobbered the full-suite
    // numbers twice (caught by review both times); partial runs go to a
    // scratch file unless BENCH_OUT names one explicitly
    val outPath = sys.env.getOrElse("BENCH_OUT",
      if (sys.env.contains("BENCH_ONLY")) "bench_only_out.json" else "bench_out.json")
    Files.write(Paths.get(outPath), (line + "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
    // last stdout line, after spark.stop() so no shutdown logs trail it
    println(summary)
  }
}
