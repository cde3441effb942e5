package graft

import org.apache.spark.sql.SparkSession

import graft.streaming.{ClusterStreams, GraphStreams, ModelStreams,
  PipelineStreams, SearchStreams}

/** CLI face of the streaming-state compactions — the off-peak job a
  * long-running deployment schedules so per-micro-batch state
  * partitions fold into one base partition (SCALING.md
  * "Streaming-state compaction"; every fold is reader-invariant and
  * crash-replayable, see each module's `compact` scaladoc):
  *
  * {{{
  * runMain graft.StateCompactMain graph    <stateDir>   # GraphStreams members
  * runMain graft.StateCompactMain pipeline <stateDir>   # fingerprint history
  * runMain graft.StateCompactMain search   <indexDir>   # BM25 tf/df/lens/stats
  * runMain graft.StateCompactMain lm       <modelDir>   # bigram-LM counts
  * runMain graft.StateCompactMain dsir     <stateDir>   # DSIR bucket counts
  * runMain graft.StateCompactMain clusters <stateDir>   # LSH bands + labels
  * }}}
  */
object StateCompactMain {
  private val usage =
    "usage: StateCompactMain <graph|pipeline|search|lm|dsir|clusters> <stateDir>"

  def main(args: Array[String]): Unit = {
    require(args.length == 2, usage)
    val Array(kind, dir) = args
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, kind, dir)
    finally spark.stop()
  }

  /** Split from main for spec-ability (real session injected). */
  def run(spark: SparkSession, kind: String, dir: String): Unit = {
    kind match {
      case "graph"    => GraphStreams.compact(spark, dir)
      case "pipeline" => PipelineStreams.compact(spark, dir)
      case "search"   => SearchStreams.compact(spark, dir)
      case "lm"       => ModelStreams.compact(spark, dir)
      case "dsir"     => ModelStreams.compact(spark, dir)
      case "clusters" => ClusterStreams.compact(spark, dir)
      case other => throw new IllegalArgumentException(
        s"unknown state kind: $other\n$usage")
    }
    println(s"[compact] $kind state at $dir folded")
  }
}
