package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** `private[spark]` bridge to the FAIR root pool. Spark creates a pool for
  * every new `spark.scheduler.pool` name a job is submitted under and never
  * removes one, so a server that names a pool per connection would keep one
  * per connection ever opened, and sort them all on every scheduling pass.
  */
object GraftPoolShim {

  /** Remove the pool `name` from `sc`'s root pool if it holds no task set;
    * true when it was removed. Task sets are added to and removed from pools
    * under the task scheduler's lock, which this holds too, so a task set
    * submitted concurrently either lands before the check (and the pool
    * stays) or after the removal (and recreates the pool). */
  def release(sc: SparkContext, name: String): Boolean =
    Option(sc.taskScheduler).exists { ts =>
      ts.synchronized {
        val root = ts.rootPool
        root.schedulableNameToSchedulable.get(name) match {
          case p: Pool if p.schedulableQueue.isEmpty => root.removeSchedulable(p); true
          case _ => false
        }
      }
    }
}
