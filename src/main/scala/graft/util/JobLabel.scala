package graft.util

import org.apache.spark.SparkContext

/** Names the Spark jobs a block submits, so a listener can tell which
  * phase or round of an iterative operator a slow job belongs to. */
object JobLabel {

  /** Runs `f` with the job description `label`, then restores the caller's
    * own description (even when `f` throws). The job group is left alone:
    * callers use it to cancel their jobs. */
  def apply[A](sc: SparkContext, label: String)(f: => A): A = {
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try f finally sc.setJobDescription(caller)
  }
}
