package graft

import org.apache.spark.SparkContext

/** Spark job-description tags for the phases of an operator that runs
  * many Spark jobs (`mirror: rows`, `repeat(cross) refine h=64`): the
  * Spark UI and any listener see which phase launched each job. Only the description of
  * the calling thread is set; job groups, by which callers attribute
  * jobs to queries and workloads, are left alone.
  */
private[graft] object JobPhase {

  /** Runs `body` with `description` as the job description of the
    * calling thread, then restores the caller's.
    */
  def apply[A](sc: SparkContext, description: String)(body: => A): A = {
    val prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try body finally sc.setJobDescription(prior)
  }

  /** Runs `body` with a tagger: `tag(what)` describes the jobs that
    * follow as `"$scope $what"`, up to the next tag. The caller's
    * description is restored on exit.
    */
  def scoped[A](sc: SparkContext, scope: String)(body: (String => Unit) => A): A =
    apply(sc, scope)(body(what => sc.setJobDescription(s"$scope $what")))
}
