package graft

import org.apache.spark.sql.SparkSession

/** The one Spark configuration every graft main runs under. Mains call
  * `GraftSession.builder().getOrCreate()`; the spec session adds only
  * its app name and warehouse dir. The one knob is `SPARK_GRAFT_CPUS`
  * (default 4): the local-mode thread count, from which the shuffle
  * width follows. A launcher that already set `spark.master`
  * (spark-submit, `-Dspark.master`) keeps it; otherwise the session
  * runs `local[cpus]`.
  *
  * AQE is not set: it is Spark's default.
  */
object GraftSession {

  private def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Shuffle partitions are sized to the DATA, not the cores: at sf0.1
    * (~50 MB) more than ~8 partitions is pure scheduling overhead
    * (measured: 32 partitions on 32 threads is 1.5x slower than 4/4).
    * At cluster scale this would be data/128MB; AQE coalesces down.
    */
  val MaxShufflePartitions = 8

  /** The conf pairs [[builder]] sets, given the thread count and the
    * `spark.master` a launcher set, if any.
    */
  private[graft] def conf(cpus: Int,
      launcherMaster: Option[String]): Seq[(String, String)] = Seq(
    "spark.master" -> launcherMaster.getOrElse(s"local[$cpus]"),
    // Codegen class cache (STATIC conf, must be set at first-session
    // creation): Spark's default 100 entries thrashes under a 229-query
    // suite — every timed pass regenerates + recompiles + class-loads
    // every plan's codegen (the warmup pass's compilations are evicted
    // long before the timed pass returns to the same query, and the
    // d32/p07 driver loops alone mint hundreds of distinct plans),
    // churning the JIT code cache; the churn's sweep storms were the
    // wandering 2–10× in-suite-vs-solo victims (d22 66 s in r13, p07
    // 74 s in the r14 after-stash run). Measured full-suite A/B on
    // identical code: 100 → 430.1 s, 2000 → 240.5 s, 8000 → 218.4 s,
    // with zero >0.5 s per-query regressions and in-suite ≈ solo for
    // every query at 8000. Scale-independent (a driver-side compile
    // cache — cluster drivers reuse generated classes the same way).
    "spark.sql.codegen.cache.maxEntries" -> "8000",
    "spark.sql.shuffle.partitions" -> math.min(cpus, MaxShufflePartitions).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // shuffle-file cleanup normally fires asynchronously from the
    // ContextCleaner; blocking keeps the 360-execution suite from
    // stacking dead shuffle files faster than they're removed
    "spark.cleaner.referenceTracking.blocking.shuffle" -> "true",
    // the status stores retain per-execution plan graphs/metrics and
    // per-stage/task rows even with the UI off; at 120 queries x 3
    // passes (x dozens of AQE stages each) that retained state is
    // pure growth — keep only a handful for post-mortem
    "spark.sql.ui.retainedExecutions" -> "20",
    "spark.ui.retainedJobs" -> "100",
    "spark.ui.retainedStages" -> "100",
    "spark.ui.retainedTasks" -> "1000")

  /** A builder carrying [[conf]] for `cpus` threads and the launcher's
    * `spark.master` system property.
    */
  def builder(cpus: Int = envCpus): SparkSession.Builder =
    conf(cpus, sys.props.get("spark.master"))
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
}
