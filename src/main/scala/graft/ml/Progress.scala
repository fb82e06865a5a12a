package graft.ml

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graftshim.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** A14 — the `timer` futures poller (`utils.py:58-86`) re-expressed on
  * Spark's listener bus: tallies finished/failed tasks instead of
  * polling future states. Attach around a job, read the counters, and
  * detach (the reference prints a finished/error/pending line every
  * 5 s; callers can do the same from these counters).
  */
class Progress extends SparkListener {
  val finished = new AtomicLong(0)
  val failed = new AtomicLong(0)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    if (t.reason == org.apache.spark.Success) finished.incrementAndGet()
    else failed.incrementAndGet()
  }
}

object Progress {
  /** Run `body` with a progress listener attached; returns (result,
    * finishedTasks, failedTasks). */
  def tracked[A](spark: SparkSession)(body: => A): (A, Long, Long) = {
    val p = new Progress
    spark.sparkContext.addSparkListener(p)
    try {
      val r = body
      // the bus is async: wait until every task-end event the body
      // posted has reached `p` (a timed-out drain returns what arrived)
      ListenerDrain.drain(spark.sparkContext)
      (r, p.finished.get(), p.failed.get())
    } finally spark.sparkContext.removeSparkListener(p)
  }
}
