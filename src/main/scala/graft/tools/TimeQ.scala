package graft.tools

import graft.Harness
import org.apache.spark.graftshim.ListenerDrain

/** Per-query timing harness for optimization work: runs the named
  * queries through the same noop-sink protocol as graft.Bench (same
  * session, same warm-up, same timed run step), printing every
  * sample plus the min — so a candidate change can be A/B-measured in
  * seconds instead of a full-battery run. Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.tools.TimeQ <reps> name [name...]"
  * The three shared silver-table builds run first, once each, and are
  * reported like any query. A row ends in `failed` when a sample
  * threw, and in `drain_timeout` when the listener bus did not drain,
  * so its work counts may be short. */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val names =
      if (args.drop(1).toSeq == Seq("ALL"))
        graft.SparkEntry.queries.keys.toSeq.sorted
      else args.drop(1).toSeq
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    Harness.applyExtraConf(spark).foreach { case (k, v) =>
      println(s"[timeq] conf $k=$v")
    }
    Harness.warmUp(spark, sfDir)
    // Deterministic work metrics, immune to host noise: job/stage/task
    // counts and shuffle bytes per query execution. Wall time on this
    // box swings 2-10x with hypervisor load; task counts do not.
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = new java.util.concurrent.atomic.AtomicLong(0)
    val tasks = new java.util.concurrent.atomic.AtomicLong(0)
    val shuffleB = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
        override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(e.stageInfo.numTasks)
          shuffleB.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
          ()
        }
      })
    type Work = (Long, Long, Long, Long)
    def snap(): Work = (jobs.get(), stages.get(), tasks.get(), shuffleB.get())
    final case class Sample(ok: Boolean, sec: Double, work: Work, drained: Boolean)
    // a deterministic listener barrier on both sides of the timed run
    // (was a fixed Thread.sleep, which let late stage events bleed
    // across queries — ADVICE r17): the one before keeps a prior
    // query's straggler events out of this delta
    def measure(body: => Unit): Sample = {
      val drained0 = ListenerDrain.drain(spark.sparkContext)
      val before = snap()
      val (ok, sec) = Harness.timed(spark)(body)
      val drained1 = ListenerDrain.drain(spark.sparkContext)
      val after = snap()
      Sample(ok, sec, (after._1 - before._1, after._2 - before._2,
        after._3 - before._3, after._4 - before._4), drained0 && drained1)
    }
    // keep the MINIMUM per work field across samples, not the last:
    // contamination (stray maintenance jobs, evicted-cache recomputes)
    // only ever ADDS work, so min is the clean count
    def report(name: String, ss: Seq[Sample]): Unit = {
      val w = ss.map(_.work)
      val tail = (if (ss.forall(_.ok)) "" else " failed") +
        (if (ss.forall(_.drained)) "" else " drain_timeout")
      println(f"[timeq] $name%-28s min=${ss.map(_.sec).min}%.3f " +
        f"jobs=${w.map(_._1).min} stages=${w.map(_._2).min} " +
        f"tasks=${w.map(_._3).min} shufKB=${w.map(_._4).min / 1024} samples=" +
        ss.map(s => f"${s.sec}%.3f").mkString(",") + tail)
    }
    // the shared silver-table builds, instrumented like any query (the
    // bench bills them as their own entries, so their work metrics are
    // first-class optimization targets — r18)
    report("_shared_pairs", Seq(measure(
      graft.queries.TextPack.prepareShared(spark, sfDir))))
    report("_shared_knn", Seq(measure(
      graft.queries.SimilarityPack.prepareSharedKnn(spark, sfDir))))
    report("_shared_adc", Seq(measure(
      graft.queries.SimilarityPack.prepareSharedAdc(spark, sfDir))))
    // SWEEP-interleaved sampling (the Bench protocol): consecutive
    // samples of one query land in the same host-contention window;
    // spacing a query's samples a full sweep apart lets min-of-k
    // reject windows shorter than a sweep
    val sweeps = (1 to reps).map { _ =>
      names.map(n => measure(Harness.noop(graft.SparkEntry.queries(n)(spark, sfDir))))
    }
    names.zipWithIndex.foreach { case (n, i) => report(n, sweeps.map(_(i))) }
    spark.stop()
  }
}
