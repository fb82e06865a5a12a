package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session recipe, warm-up and timed run step shared by every
  * entry point (Bench, Verify, TimeQ, Explain, Experiment, ScaleProbe),
  * so the benched, verified and audited sessions cannot drift apart.
  *
  * Inputs, all optional:
  *  - `SPARK_GRAFT_CPUS`: local cores and shuffle partitions (default:
  *    the machine's available processors);
  *  - `SPARK_GRAFT_SF_DIR`: fixture dir (default sf0.1, the bench SF);
  *  - `SPARK_GRAFT_LOCAL_DIR`: `spark.local.dir` for shuffle/spill
  *    scratch, so a RAM-backed dir can take the block-manager writes
  *    off a disk-backed tmpdir (default: the JVM tmpdir).
  */
object Harness {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
  val sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def session(): SparkSession = {
    val b0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts may ship as parquet TIMESTAMP(NANOS); read as long,
      // normalized back to timestamp in Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // the whole-stage-codegen compile cache defaults to 100 entries;
      // ~195 queries × several codegen stages evict it within one
      // sweep, so the spaced-sweep min would re-pay janino compilation
      // (~0.2-0.5 s/query) in EVERY sweep. Sized to hold the whole
      // battery so the min measures plan execution, not recompilation.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
    // stream-drain checkpoints on RAM when the host has it: the
    // offset/commit WAL fsyncs per micro-batch and /tmp is
    // disk-backed on the bench host (~100 ms/drain, OPTIMIZATION_r17.md
    // "Streaming family"); durability across JVMs is meaningless for
    // these drain-to-completion harness streams
    val b1 =
      if (new java.io.File("/dev/shm").isDirectory)
        b0.config("spark.graft.stream.checkpointDir", "/dev/shm/graft_ckpt")
      else b0
    val spark = sys.env.get("SPARK_GRAFT_LOCAL_DIR")
      .fold(b1)(d => b1.config("spark.local.dir", d))
      .getOrCreate()
    // ERROR, not WARN: benign WARNs (DAGScheduler's "Failed to cancel
    // job group" at stream stop(), the streaming runtime's AQE notice
    // and teardown, WindowExec's "No Partition Defined" on
    // verified-bounded relations, TaskSetManager's large task size from
    // memory-sink drains) would otherwise push Bench's JSON line out of
    // a ~2 KB log tail
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Untimed warm-up: JIT/janino-compile the common codegen paths
    * (scan, hash agg, window, broadcast join) so timings measure plan
    * execution, not first-use compiler latency. The documents read
    * warms that fixture's page cache: the first timed work in Bench is
    * the shared shingle build over documents, and a cold first sample
    * would make a min-of-two systematically select the warm one. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
    li.groupBy(col("l_returnflag")).agg(sum(col("l_quantity"))).count()
    li.withColumn("rn", row_number().over(
      Window.partitionBy(col("l_returnflag")).orderBy(col("l_orderkey")))).count()
    li.join(broadcast(li.select(col("l_orderkey").as("k")).limit(10)),
      col("l_orderkey") === col("k")).count()
    spark.read.parquet(s"$sfDir/documents.parquet").count()
    spark.catalog.clearCache()
  }

  /** Consume a plan through the noop sink, NOT `.count()`: counting a
    * cardinality-invariant plan lets Catalyst prune whole
    * window/global-aggregate pipelines (the round-11 scale probe
    * caught q_spearman_by_era "costing" 0.2 s under count() at 100x vs
    * ~22 s actually executed). The noop DSv2 sink executes the full
    * plan and discards rows, the same work Verify's parquet write does
    * minus the IO. */
  def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** The timed run step: runs `body`, then drops every persisted frame
    * so one run's cache never skews the next, and returns
    * (ok, seconds including that clearCache). Any throwable from the
    * body is a failed run, never an abort of the harness. */
  def timed(spark: SparkSession)(body: => Unit): (Boolean, Double) = {
    val t0 = System.nanoTime()
    val ok = try { body; true } catch { case _: Throwable => false }
    spark.catalog.clearCache()
    (ok, (System.nanoTime() - t0) / 1e9)
  }

  /** `SPARK_GRAFT_EXTRA_CONF`: semicolon-separated `k=v` runtime SQL
    * confs, the A/B hook of TimeQ and Explain. Empty tokens (a
    * trailing `;`) are skipped, tokens are trimmed, a value may itself
    * contain `=`, and a token without `=` is a named error instead of
    * an opaque MatchError. */
  def parseExtraConf(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => (k, v)
        case _ => sys.error(s"SPARK_GRAFT_EXTRA_CONF entry without '=': '$kv'")
      }
    }

  /** Sets every `SPARK_GRAFT_EXTRA_CONF` pair on `spark`; returns them. */
  def applyExtraConf(spark: SparkSession): Seq[(String, String)] = {
    val kvs = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(parseExtraConf)
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    kvs
  }
}
