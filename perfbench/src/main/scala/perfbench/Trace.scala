package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters of one traced call, filled by [[Tracer]]'s listener. */
final class Acc {
  var jobs = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesRead = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** One recorded span: a call into the program, or a benchmark phase. */
final case class Span(id: Int, name: String, parent: Int, startMs: Long, endMs: Long,
    counters: Seq[(String, Double)])

/** In-memory tracer. Spans are kept in a buffer and written out once, when
  * the run ends. A traced call runs under its own Spark job group, and the
  * listener attributes each job and task to the call by that group, so the
  * counters are measured where the work happens. With `enabled = false`
  * every method is a plain pass-through and no listener is installed.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val t0 = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var seq = 0
  /** metric name -> one value per traced call */
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  // job group -> accumulator of the open call
  private val routes = new ConcurrentHashMap[String, Acc]()
  private val jobAccs = new ConcurrentHashMap[Int, (Acc, Long)]()
  private val stageAccs = new ConcurrentHashMap[Int, Acc]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.flatMap(g => Option(routes.get(g))).foreach { a =>
        a.synchronized { a.jobs += 1 }
        jobAccs.put(e.jobId, (a, e.time))
        e.stageIds.foreach(s => stageAccs.put(s, a))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobAccs.remove(e.jobId)).foreach { case (a, start) =>
        a.synchronized { a.jobIntervals += ((start, e.time)) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageAccs.get(e.stageId)).foreach { a =>
        val m = e.taskMetrics
        a.synchronized {
          a.tasks += 1
          if (m != null) {
            a.taskCpuNs += m.executorCpuTime
            a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            a.spillBytes += m.diskBytesSpilled
            a.bytesRead += m.inputMetrics.bytesRead
          }
        }
      }
  }
  if (enabled) sc.addSparkListener(listener)

  private def now(): Long = System.currentTimeMillis()

  private def open(name: String): (Int, Long) = {
    val id = nextId; nextId += 1
    stack = id :: stack
    (id, now())
  }

  private def close(id: Int, name: String, start: Long, counters: Seq[(String, Double)]): Unit = {
    stack = stack.tail
    spans += Span(id, name, stack.headOption.getOrElse(-1), start - t0, now() - t0, counters)
  }

  /** A benchmark phase: a span with no counters of its own. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val (id, start) = open(name)
      try body finally close(id, name, start, Seq.empty)
    }

  /** A call into one layer of the program, attributed by job group. */
  def call[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      seq += 1
      val group = s"$name#$seq"
      val acc = new Acc
      routes.put(group, acc)
      val (id, start) = open(name)
      sc.setJobGroup(group, name)
      try body finally {
        sc.clearJobGroup()
        val end = now()
        org.apache.spark.perfbench.Bus.drain(sc)
        routes.remove(group)
        val counters = countersOf(acc, start, end)
        record(name, counters)
        close(id, name, start, counters)
      }
    }

  private def countersOf(a: Acc, start: Long, end: Long): Seq[(String, Double)] = {
    val wallS = (end - start) / 1000.0
    val busy = unionMs(a.jobIntervals.toSeq, start, end) / 1000.0
    Seq("s" -> wallS, "jobs" -> a.jobs.toDouble, "task_cpu_s" -> a.taskCpuNs / 1e9,
      "no_job_s" -> math.max(0.0, wallS - busy), "shuffle_bytes" -> a.shuffleBytes.toDouble,
      "spill_bytes" -> a.spillBytes.toDouble, "bytes_read" -> a.bytesRead.toDouble,
      "tasks" -> a.tasks.toDouble)
  }

  private def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter { case (s, e) => e > s }
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  private def record(name: String, counters: Seq[(String, Double)]): Unit =
    counters.foreach { case (k, v) => add(s"$name.$k", v) }

  /** Record one value of a named counter (no-op when tracing is off). */
  def add(metric: String, v: Double): Unit =
    if (enabled) samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v

  /** Median per metric over the calls of the run. */
  def medians: Map[String, Double] = samples.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap

  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val body = spans.sortBy(_.id).map { s =>
      val cs = s.counters.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString(", ")
      s"""  {"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${s.parent}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "counters": {$cs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(path, body)
  }
}
