package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Closed-loop benchmark driver. One client thread issues one op at a
  * time into the repository's public entry points and times each call
  * from outside. Arguments are key=value pairs:
  *
  *   workload=<name> inputs=<dir> out=<dir> seconds=<n> trace=<0|1>
  *   seed=<n> cpus=<n>
  *
  * Writes `<out>/result.json` (set-up times, per-op samples, check
  * outcomes and, when traced, the per-layer metrics) plus, per query
  * op, its output as parquet under `<out>/checks/<op>` for the DuckDB
  * comparison, and `<out>/trace.json` (spans and self-time report)
  * when traced.
  */
object Driver {

  final case class Sample(pass: Int, name: String, kind: String, wallS: Double,
                          ok: Boolean, error: String)

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // the graft.Bench SparkConf, with its scratch dirs kept inside
      // the benchmark's work dir
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.graft.stream.checkpointDir", s"$work/ckpt")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The graft.Bench warm-up: scan, hash aggregate, window and
    * broadcast join over the generated lineitem, then a documents read. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$dir/lineitem.parquet").limit(1000)
    li.groupBy(col("l_returnflag")).agg(sum(col("l_quantity"))).count()
    li.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag")).orderBy(col("l_orderkey")))).count()
    li.join(broadcast(li.select(col("l_orderkey").as("k")).limit(10)),
      col("l_orderkey") === col("k")).count()
    spark.read.parquet(s"$dir/documents.parquet").count()
    spark.catalog.clearCache()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.map { a =>
      val i = a.indexOf('='); require(i > 0, s"argument '$a' is not key=value")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val dir = opts("inputs")
    val out = opts("out")
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val seed = opts("seed").toLong
    val cpus = opts("cpus").toInt
    val work = s"$out/work"
    val workload = Workloads(opts("workload"), dir, seed)

    // set-up, three times (the run reports the median): JVM entry
    // (first) or the previous session's stop (later) to ready —
    // session build, warm-up and input load
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val canary = new Canary(cpus)
    val setupS = mutable.ArrayBuffer.empty[Double]
    val setupParts = mutable.ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    for (i <- 1 to 3) {
      val t0 = if (i == 1) jvmStartMs.toDouble else System.currentTimeMillis().toDouble
      val tMain = System.currentTimeMillis()
      if (spark != null) spark.stop()
      spark = session(cpus, work)
      val tSession = System.currentTimeMillis()
      warmUp(spark, dir)
      val tWarm = System.currentTimeMillis()
      workload.load(spark)
      spark.catalog.clearCache()
      val tEnd = System.currentTimeMillis()
      setupS += (tEnd - t0) / 1e3
      setupParts += Map("jvm_s" -> (tMain - t0) / 1e3, "session_s" -> (tSession - tMain) / 1e3,
        "warmup_s" -> (tWarm - tSession) / 1e3, "load_s" -> (tEnd - tWarm) / 1e3)
    }

    val clock = new Clock
    val tracer = if (traced) new Tracer(spark) else null
    val sc = spark.sparkContext
    val samples = mutable.ArrayBuffer.empty[Sample]
    val traces = mutable.ArrayBuffer.empty[(Int, OpTrace)]
    val checks = mutable.LinkedHashMap.empty[String, String] // op -> "ok" | "output" | error
    val outputs = mutable.LinkedHashMap.empty[String, DataFrame]
    val passWalls = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    val gcBeans = scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans).asScala
    val heapPools = scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans).asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    var gcMs = 0L
    var tracedTrials = 0L
    var heapPeak = 0L
    var checkSec = 0.0
    var opId = 0
    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9 - checkSec

    // passes until the time is up. Traced runs alternate traced and
    // untraced passes, at least four: the first pass, traced, gives the
    // per-layer figures of the same cold pass the untraced runs time;
    // the warm traced pass 3 against the untraced passes 2 and 4 on
    // either side of it gives the overhead
    var p = 0
    while (elapsed < seconds || (traced && p < 4)) {
      p += 1
      val tracePass = traced && p % 2 == 1
      if (p == 1) tracedTrials -= workload.trials.get
      if (tracePass) {
        heapPools.foreach(_.resetPeakUsage())
        gcMs -= gcBeans.map(_.getCollectionTime).sum
      }
      val p0 = System.nanoTime()
      var passCheck = 0.0
      workload.pass(spark, p).foreach { op =>
        opId += 1
        val tr = if (tracePass) new OpTrace(opId, op.name, op.kind) else null
        if (tr != null) tracer.begin(tr)
        val rdd0 = sc.getPersistentRDDs.size
        val ctx = new Ctx(spark, clock)
        val t0 = clock.nowMs
        val res = try Right(op.body(ctx)) catch { case e: Throwable => Left(e) }
        val t1 = clock.nowMs
        if (tr != null) {
          tr.leakedRdds = sc.getPersistentRDDs.size - rdd0
          tracer.end(tr)
          tr.startMs = t0; tr.endMs = t1
          tr.phases ++= ctx.phases
          traces += ((p, tr))
        }
        // the check runs outside the timed span, once per op per run;
        // query outputs are written after the timed phase
        val c0 = System.nanoTime()
        val err = res match {
          case Left(e) => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          case Right(v) if !checks.contains(op.name) =>
            if (op.writesOutput) {
              outputs(op.name) = v.asInstanceOf[DataFrame]
              checks(op.name) = "output"
              None
            } else {
              val r = try op.check(v) catch { case e: Throwable => Some(s"check failed: ${e.getMessage}") }
              checks(op.name) = r.getOrElse("ok")
              r
            }
          case Right(_) => checks(op.name) match {
            case "ok" | "output" => None
            case e => Some(e)
          }
        }
        spark.catalog.clearCache()
        canary.sample(spark)
        passCheck += (System.nanoTime() - c0) / 1e9
        samples += Sample(p, op.name, op.kind, (t1 - t0) / 1e3, err.isEmpty, err.getOrElse(""))
      }
      checkSec += passCheck
      passWalls += ((p, tracePass, (System.nanoTime() - p0) / 1e9 - passCheck))
      if (p == 1) tracedTrials += workload.trials.get
      if (tracePass) {
        gcMs += gcBeans.map(_.getCollectionTime).sum
        heapPeak = math.max(heapPeak, heapPools.map(_.getPeakUsage.getUsed).sum)
      }
    }
    val timedS = elapsed

    // query outputs for the DuckDB comparison, written a few at a time
    val c0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    outputs.toSeq.map { case (name, df) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try df.coalesce(1).write.mode("overwrite").parquet(s"$out/checks/$name")
          catch { case e: Throwable => checks.synchronized(checks(name) = s"output failed: ${e.getMessage}") }
      })
    }.foreach(_.get())
    pool.shutdown()
    checkSec += (System.nanoTime() - c0) / 1e9

    val rssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }
      .getOrElse(0L)

    val layers: Map[String, Double] =
      if (!traced) Map.empty[String, Double]
      else {
        val firstTraced = traces.filter(_._1 == 1).map(_._2).toSeq
        var nextSpan = 0
        val spans = firstTraced.flatMap(Tracer.spans(_, () => { nextSpan += 1; nextSpan }))
        java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/trace.json"), json(Map(
          "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
            "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
          "self_time" -> Tracer.selfTime(spans))))
        val un = passWalls.filter(!_._2).map(_._3).toSeq
        val tr = passWalls.filter(w => w._2 && w._1 > 1).map(_._3).toSeq
        Layers(firstTraced, tracer, passWalls.head._3, cpus,
          tracedTrials.toDouble, gcMs / 1e3, heapPeak / 1048576.0,
          Stats.median(tr) / Stats.median(un)) ++ Map(
          "jvm.rss_peak_mb" -> rssKb / 1024.0,
          "host.canary_s" -> Stats.median(canary.samples.toSeq))
      }

    val record = Map(
      "workload" -> opts("workload"),
      "setup_s" -> setupS,
      "setup_parts" -> setupParts,
      "canary_s" -> canary.samples,
      "timed_s" -> timedS,
      "check_s" -> checkSec,
      "passes" -> passWalls.map { case (pp, t, w) => Map("pass" -> pp, "traced" -> t, "wall_s" -> w) },
      "ops" -> samples.map(s => Map("pass" -> s.pass, "name" -> s.name, "kind" -> s.kind,
        "wall_s" -> s.wallS, "ok" -> s.ok, "error" -> s.error)),
      "checks" -> checks,
      "oracles" -> (SparkEntry_oracles(checks.keys.toSeq) ++
        workload.oracles.filter(o => checks.contains(o._1))),
      "rss_peak_mb" -> rssKb / 1024.0,
      "per_layer" -> layers,
      "op_trace" -> traces.filter(_._1 == 1).map(_._2).map(t => Map(
        "op" -> t.name, "wall_s" -> t.wallMs / 1e3, "jobs" -> t.jobs,
        "build_jobs" -> t.buildJobs, "leaked_rdds" -> t.leakedRdds)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/result.json"), json(record))
    spark.stop()
  }

  private def json(v: AnyRef): String =
    org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  private def SparkEntry_oracles(names: Seq[String]): Map[String, String] = {
    val all = graft.SparkEntry.oracleSql
    names.flatMap(n => all.get(n).map(n -> _)).toMap
  }
}

/** Host-speed canary: a fixed small Spark job (a `cpus`-task range
  * aggregate) in the benchmark's session. It runs no program code, so a
  * change to the program cannot move it; what moves it is the host
  * (CPU steal, scheduling latency), which moves the ops' wall times the
  * same way. Sampled twice after each op, outside every timed span. */
final class Canary(cpus: Int) {
  val samples = mutable.ArrayBuffer.empty[Double]
  def sample(spark: SparkSession): Unit = (1 to 2).foreach { _ =>
    val t0 = System.nanoTime()
    spark.range(0L, 400000L, 1L, cpus).selectExpr("sum((id * 7) % 13)").collect()
    samples += (System.nanoTime() - t0) / 1e9
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** The per-layer table of one traced pass. */
object Layers {
  def apply(ops: Seq[OpTrace], tracer: Tracer, passWallS: Double, cpus: Int,
            trials: Double, gcS: Double, heapPeakMb: Double, overhead: Double): Map[String, Double] = {
    def sumOf(f: OpTrace => Double, kinds: String*): Double =
      ops.filter(o => kinds.isEmpty || kinds.contains(o.kind)).map(f).sum
    def wall(kinds: String*): Double = sumOf(_.wallMs / 1e3, kinds: _*)
    val queryKinds = Seq("query", "consumer", "asof", "kernel", "ann", "stream", "rank")
    val consumers = ops.filter(o => Seq("consumer", "ann").contains(o.kind))
    val batchS = ops.flatMap(_.batchMs).map(_ / 1e3)
    val streamOps = ops.filter(_.batches > 0)
    val busy = ops.map(_.jobBusyMs / 1e3).sum
    val opWall = ops.map(_.wallMs / 1e3).sum
    val cpuS = ops.map(_.cpuNs / 1e9).sum
    Map(
      "queries.build_s" -> sumOf(_.phaseMs("build") / 1e3, queryKinds: _*),
      "queries.build_jobs" -> sumOf(_.buildJobs.toDouble, queryKinds: _*),
      "queries.exec_s" -> sumOf(_.phaseMs("exec") / 1e3, queryKinds: _*),
      "silver.build_s" -> wall("silver"),
      "silver.write_bytes" -> sumOf(_.outBytes.toDouble, "silver"),
      "silver.hit_ratio" -> (if (consumers.isEmpty) 0.0
        else consumers.count(_.outBytes == 0).toDouble / consumers.size),
      "ml.cv_s" -> wall("cv"),
      "ml.tune_s" -> wall("tune"),
      "ml.mda_s" -> wall("mda"),
      "ml.reduce_s" -> wall("reduce"),
      "ml.cluster_s" -> wall("cluster"),
      "ml.trials" -> trials,
      "operators.rank_s" -> wall("rank"),
      "operators.fold_s" -> wall("fold"),
      "operators.distance_s" -> wall("distance"),
      "operators.ann_s" -> wall("ann"),
      "functions.kernel_s" -> sumOf(_.phaseMs("exec") / 1e3, "kernel"),
      "plans.asof_s" -> wall("asof"),
      "tables.scan_rows" -> sumOf(_.inRows.toDouble),
      "tables.scan_bytes" -> sumOf(_.inBytes.toDouble),
      "streaming.batches" -> sumOf(_.batches.toDouble),
      "streaming.plan_s" -> sumOf(_.planMs / 1e3),
      "streaming.add_batch_s" -> sumOf(_.addBatchMs / 1e3),
      "streaming.commit_s" -> sumOf(_.commitMs / 1e3),
      "streaming.offsets_s" -> sumOf(_.offsetsMs / 1e3),
      "streaming.start_stop_s" -> streamOps.map(o => o.wallMs / 1e3 - o.batchMs.sum / 1e3).sum,
      "streaming.state_rows" -> sumOf(_.stateByRun.values.map(_._1).sum.toDouble),
      "streaming.state_bytes" -> sumOf(_.stateByRun.values.map(_._2).sum.toDouble),
      "streaming.batch_p50_s" -> (if (batchS.isEmpty) 0.0 else Stats.median(batchS)),
      "streaming.batch_p90_s" -> (if (batchS.isEmpty) 0.0 else Stats.quantile(batchS, 0.9)),
      "streaming.events_per_s" -> (if (batchS.sum > 0) sumOf(_.streamRows.toDouble) / batchS.sum else 0.0),
      "spark.analysis_s" -> sumOf(_.analysisMs / 1e3),
      "spark.optimizer_s" -> sumOf(_.optimizerMs / 1e3),
      "spark.planning_s" -> sumOf(_.planningMs / 1e3),
      "spark.aqe_replans" -> sumOf(_.aqe.toDouble),
      "spark.codegen_compiles" -> sumOf(_.codegenCompiles.toDouble),
      "spark.codegen_s" -> sumOf(_.codegenMs / 1e3),
      "spark.jobs" -> sumOf(_.jobs.toDouble),
      "spark.stages" -> sumOf(_.stages.toDouble),
      "spark.tasks" -> sumOf(_.tasks.toDouble),
      "spark.job_busy_s" -> busy,
      "spark.driver_gap_s" -> (opWall - busy),
      "spark.sched_delay_s" -> sumOf(_.schedMs / 1e3),
      "spark.executor_run_s" -> sumOf(_.runMs / 1e3),
      "spark.executor_cpu_s" -> cpuS,
      "spark.cpu_util" -> (if (opWall > 0) cpuS / (opWall * cpus) else 0.0),
      "spark.shuffle_write_bytes" -> sumOf(_.shuffleW.toDouble),
      "spark.shuffle_read_bytes" -> sumOf(_.shuffleR.toDouble),
      "spark.shuffle_wait_s" -> sumOf(_.fetchWaitMs / 1e3),
      "spark.spill_bytes" -> sumOf(_.spill.toDouble),
      "cache.leaked_rdds" -> sumOf(_.leakedRdds.toDouble),
      "jvm.heap_peak_mb" -> heapPeakMb,
      "jvm.gc_s" -> gcS,
      "trace.overhead" -> overhead,
      "trace.drain_timeouts" -> tracer.drainTimeouts.toDouble,
      "trace.pass_wall_s" -> passWallS)
  }
}
