package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run: the session, the tracer, the work
  * directory, the timed samples and the operation counts.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path, val seed: Long) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  var correct = true

  def sample(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v

  def median(metric: String): Double = Stats.median(samples(metric).toSeq)

  private var cycleCpu = 0.0
  private var cycleGc = 0.0

  /** Runs `body` as one timed operation `name`: records its wall seconds
    * (`name.wall_s`) and the CPU seconds the JVM process spent meanwhile
    * (`name.cpu_s`: every thread, the JIT compiler and the garbage
    * collector included; not time the host's hypervisor stole). Both add
    * to the current cycle.
    */
  def timed[A](name: String)(body: => A): A = {
    val c0 = Main.processCpuSeconds(); val g0 = Main.gcSeconds()
    val t0 = System.nanoTime()
    val r = body
    sample(s"$name.wall_s", (System.nanoTime() - t0) / 1e9)
    val cpu = Main.processCpuSeconds() - c0
    sample(s"$name.cpu_s", cpu)
    cycleCpu += cpu
    cycleGc += Main.gcSeconds() - g0
    r
  }

  val gcPerCycle = mutable.ArrayBuffer.empty[Double]

  /** Closes one timed cycle: its CPU and GC seconds become one sample each. */
  def endCycle(): Unit = {
    sample("cycle.cpu_s", cycleCpu)
    gcPerCycle += cycleGc
    tracer.add("jvm.gc_s", cycleGc)
    cycleCpu = 0.0
    cycleGc = 0.0
  }

  /** One checked operation. `check` returns the problems it found. A
    * problem that `known` accepts is the documented program fault: the
    * operation counts as failed but the run stays correct. Any other
    * problem makes the run incorrect.
    */
  def op(name: String, known: String => Boolean = _ => false)(check: => Seq[String]): Unit = {
    attempted += 1
    val problems =
      try check
      catch { case scala.util.control.NonFatal(e) => Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    if (problems.nonEmpty) {
      failed += 1
      if (!problems.forall(known)) correct = false
      problems.take(5).foreach(p => System.err.println(s"[perfbench] $name: $p"))
    }
  }

  /** Drop persisted blocks and let the context cleaner reclaim shuffle and
    * broadcast state, so that one timed operation does not pay for the
    * previous one's leftovers.
    */
  def released(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(150)
  }

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** A workload: seeded set-up, then rounds of checked operations. */
trait Workload {
  /** Writes the inputs and seeds whatever state the rounds start from. */
  def setUp(): Unit
  /** One round: the same fixed sequence of operations every time. */
  def round(): Unit
  /** End-to-end metrics other than `setup_s` and `cpu_s`, from the samples. */
  def endToEnd(): Seq[(String, Double, String)]
}

object Main {

  def processCpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  def main(args: Array[String]): Unit = {
    val code =
      try { run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code) // Spark and Derby leave non-daemon threads behind
  }

  private def run(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val c0 = processCpuSeconds()
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val trace = kv.getOrElse("trace", "0") == "1"
    val work = Paths.get(kv("work")).toAbsolutePath
    val cores = kv.getOrElse("cores", "4")
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext, trace)
    val ctx = new Ctx(spark, tracer, work, seed)
    val wl: Workload = workload match {
      case "nemsis_load" => new NemsisLoad(ctx)
      case "corpus_curate" => new CorpusCurate(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    tracer.span("setup")(wl.setUp())
    ctx.released()
    ctx.sample("setup.wall_s", (System.nanoTime() - t0) / 1e9)
    val setupS = processCpuSeconds() - c0

    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var r = 0
    while (r == 0 || System.nanoTime() < deadline) {
      tracer.span(s"round.$r")(wl.round())
      r += 1
    }
    val e2e = Seq(("setup_s", setupS, "s")) ++ wl.endToEnd() ++
      Seq(("cpu_s", ctx.median("cycle.cpu_s"), "s"))

    if (trace) tracer.writeSpans(Paths.get(kv("trace-file")))
    System.err.println(s"[perfbench] $workload seed=$seed rounds=$r")
    e2e.foreach { case (n, v, u) => System.err.println(f"[perfbench]   $n%-28s $v%12.4f $u") }
    ctx.samples.foreach { case (n, v) => System.err.println(f"[perfbench]   $n%-28s ${Stats.median(v.toSeq)}%12.4f (median)") }
    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
    def arr(vs: Iterable[Double]): String = vs.map(Json.num).mkString("[", ", ", "]")
    val record = obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "trace" -> trace.toString,
      "correct" -> ctx.correct.toString, "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString, "rounds" -> r.toString,
      "end_to_end" -> obj(e2e.map { case (n, v, _) => n -> Json.num(v) }),
      "per_layer" -> obj(tracer.medians.toSeq.sortBy(_._1).map { case (n, v) => n -> Json.num(v) }),
      "gc_s_per_cycle" -> arr(ctx.gcPerCycle),
      "samples" -> obj(ctx.samples.map { case (k, v) => k -> arr(v) })))
    Files.writeString(Paths.get(kv("record")), record + "\n")
    spark.stop()
  }
}
