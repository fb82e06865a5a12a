package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    Harness.warmUp(spark, sfDir)
    // in-run host-load probe (r17): the 4-way concurrent shared build
    // is the battery's most contention-sensitive entry — calm 3.67 s
    // vs 6.40 s in the r16 driver window, pure oversubscription of an
    // already-loaded box. Four cheap frozen queries (NOT the canary
    // seven, so the reported sweep canary stays un-warmed and
    // round-comparable) are timed against their calm-window pins
    // (committed BENCH_DETAIL sample 277c1bf); min of two probe
    // passes > 1.35 ⇒ the host is hot ⇒ build the shared tables
    // SEQUENTIALLY, degrading to the serial cost instead of
    // multiplying thread demand against a busy box. Probe wall time
    // (~1-2 s) is untimed harness overhead, like the warm-up.
    val probePinned = Map(
      "q_sample_head" -> 0.072, "q_math_funcs" -> 0.110,
      "q_union_filters" -> 0.176, "q_distinct_flags" -> 0.180)
    def probeRatio(): Double = {
      val runs = probePinned.keys.toSeq.sorted.map(n =>
        Harness.timed(spark)(Harness.noop(SparkEntry.queries(n)(spark, sfDir))))
      // a failed probe query leaves its pin in the denominator but no
      // work in the numerator, deflating the ratio exactly when the
      // probe must not under-read — treat any failure as hot and let
      // the shared build take the conservative sequential path
      if (runs.exists(!_._1)) Double.MaxValue
      else runs.map(_._2).sum / probePinned.values.sum
    }
    // one UNTIMED pass first: the probe queries' first executions pay
    // planning + codegen (~0.2 s each), which reads as a 2-3× "hot"
    // ratio on a perfectly quiet host — the r17 shakeout run chose
    // sequential at run start for exactly that reason. JIT warmth is
    // not host load; warm first, then time.
    def sharedConcurrency(): Int = {
      probeRatio()
      val r = math.min(probeRatio(), probeRatio())
      if (r > 1.35) 1 else 4
    }
    // shared pipeline materializations are timed as their own entry so
    // per-query timings stay honest: q_ngram_jaccard / q_dedup_apply
    // read the pair table this step builds instead of one of them
    // silently paying the whole shingle pipeline. r17 added the kNN
    // candidate table (q_knn_join / q_knn_label / q_knn_graph) and the
    // ADC candidate table (q_ann_ivfpq_seeded / q_ann_refine) under the
    // same protocol: without it their build cost hid inside whichever
    // consumer ran first in sweep A and then vanished from the min.
    // Each round re-runs the load probe and returns its concurrency.
    def sharedBuilds(tag: String): (Int, Seq[(String, (Boolean, Double))]) = {
      val conc = sharedConcurrency()
      (conc, Seq(
        "_shared_pairs" -> Harness.timed(spark)(graft.queries.TextPack
          .prepareShared(spark, sfDir, tag, concurrency = conc)),
        "_shared_knn" -> Harness.timed(spark)(graft.queries.SimilarityPack
          .prepareSharedKnn(spark, sfDir, tag)),
        "_shared_adc" -> Harness.timed(spark)(graft.queries.SimilarityPack
          .prepareSharedAdc(spark, sfDir, tag))))
    }
    val (sharedConc1, sharedFirst) = sharedBuilds("")
    // fixed (sorted) query order: Map iteration order reshuffles as
    // queries are added, which moves warm-up costs between rounds and
    // makes per-query timings incomparable round over round
    // min over TWO COMPLETE SWEEPS of the sorted list (not two
    // back-to-back passes per query): three rounds of driver benches
    // swung 85→539 s on identical code from host contention, and
    // back-to-back passes put both samples of a query inside the same
    // contention window — a sustained multi-minute load spike inflated
    // exactly the first-in-order queries 3–17× in the r9 driver run
    // while later queries matched the quiet host to the millisecond.
    // Spacing the two samples a full sweep (~minutes) apart means only
    // a load window spanning the entire run survives the min.
    // per-query clearCache keeps a later sample from reading an
    // earlier one's persisted frames; OS page cache stays warm in
    // both sweeps, as it would be in steady state
    // streaming queries get a third sweep: their per-sweep variance is
    // micro-batch scheduling (start/stop, state-store setup, no-data
    // watermark batches), not cache state, and two samples leave a
    // single scheduler hiccup in the min ~1 run in 3 (r8/r9 detail:
    // same stream query 0.85 s and 4.1 s across quiet-host runs)
    // comma-separated subset for quiet-host triage of individual
    // entries (driver runs without it — full battery)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))
    def sweep(qs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]) =
      qs.map { case (name, fn) =>
        name -> Harness.timed(spark)(Harness.noop(fn(spark, sfDir)))
      }
    // third-sweep set beyond q_stream*: the queries whose r10 driver
    // min still ran 1.6-7x the quiet host — contention windows can
    // outlast one full sweep, and these (mostly derived-layout or
    // multi-stage) entries showed BOTH spaced samples inflated; a
    // third sample spaced another sweep apart shrinks the odds a
    // window covers all of them
    // q_cv_summary joined r12: driver r11 min 1.44 s vs 0.65 s quiet
    // (2.2x) — both spaced samples inflated; q_semdedup (1.26x) and
    // q8_market_share (0.92x) measured within agreement and stay out
    val highVariance = Set("q_dpp_join", "q_dedup_clusters",
      "q_embed_neardup", "q_dcor_pval", "q_cv_rf", "q_cube",
      "q_cv_summary")
    // HOST-NOISE CANARY (r15): the r14 driver artifact recorded 2.51x
    // the round-1 baseline purely from host contention (same-day
    // worktree control: r13's own HEAD re-benched 1.4x slower on the
    // r14 box; the calm-window sample at the same HEAD was 1.49x) —
    // and nothing in the JSON carried that evidence. These seven
    // queries are round-1-era shapes whose code is frozen (scan,
    // grouped agg, broadcast star join, semi join, top-k, lag/lead
    // window), each <0.5 s, pinned at their calm-window times
    // (committed BENCH_DETAIL sample 3a97bea, cross-checked against
    // the round-1 record). Each sweep's canary ratio =
    // (that sweep's summed canary seconds) / (pinned sum): ~1.0 on a
    // quiet host, 1.5-2.5 in the r14 contention window. The min over
    // sweeps lands in the headline JSON so a reader can mechanically
    // attribute an inflated total to the box, and a ratio > 1.35
    // after the two spaced sweeps triggers a FULL third sweep — the
    // total becomes min-of-3, the strongest defense a single run can
    // mount against a contention window that outlasts one sweep.
    //
    // RE-PIN RULE (r16): the pinned constants are valid ONLY while
    // the seven queries' code paths stay frozen — they have been
    // untouched since round 1 and must stay that way. If any of them
    // (or a plan-affecting config they depend on) ever changes,
    // re-pin ALL seven from a fresh calm-window BENCH_DETAIL sample
    // (canary ratio <= ~0.9 band) and note the new provenance here;
    // a stale pin silently re-scales every later round's ratio.
    // Pin provenance: committed calm sample 3a97bea (r15).
    val canaryPinned = Map(
      "q1_pricing_summary" -> 0.329, "q6_forecast_revenue" -> 0.133,
      "q_filter_project" -> 0.231, "q_join_star" -> 0.493,
      "q_semi_join" -> 0.191, "q_topk_orders" -> 0.068,
      "q_lag_lead" -> 0.463)
    def canaryRatio(sw: Seq[(String, (Boolean, Double))]): Option[Double] = {
      val present = sw.collect {
        case (n, (true, t)) if canaryPinned.contains(n) => (n, t)
      }
      if (present.isEmpty) None
      else Some(present.map(_._2).sum / present.map(p => canaryPinned(p._1)).sum)
    }
    val sweepA = sweep(sorted)
    val sweepB = sweep(sorted)
    val earlyRatios = Seq(sweepA, sweepB).flatMap(canaryRatio(_))
    val contended = earlyRatios.nonEmpty && earlyRatios.min > 1.35
    val sweepCList = sweep(
      if (contended) sorted
      else sorted.filter(q =>
        q._1.startsWith("q_stream") || highVariance(q._1)))
    val canaryRatios =
      earlyRatios ++ (if (contended) canaryRatio(sweepCList) else None)
    val sweepC = sweepCList.toMap
    // second timed shared build under a probe memo tag, spaced two
    // full sweeps from the first: _shared_pairs was the one remaining
    // single-sample timing, fully exposed to a load window at run
    // start; the min across the two spaced builds gives it the same
    // contention defense as every query (the probe table is never
    // read — both warehouse copies are shutdown-hook-deleted)
    // the load probe re-runs here: contention two sweeps later is a
    // different window than at run start
    val (sharedConc2, sharedSecond) = sharedBuilds("_probe")
    // the entry's ok flag is the FIRST build's alone — that is the
    // table every consumer query actually read; a probe-only failure
    // is reported as its own `<name>_probe` entry instead of poisoning
    // this one. Remaining known bias: the probe runs after two full
    // sweeps, so with the warm-up documents read above both samples
    // see a warm page cache, but the probe still has warmer JIT — the
    // min leans warm-path by construction, which matches the per-query
    // mins (both post-warm-up) closely enough for round-over-round reads
    val sharedEntries = sharedFirst.zip(sharedSecond).map {
      case ((name, (ok1, t1)), (_, (ok2, t2))) =>
        name -> (ok1, if (ok2) math.min(t1, t2) else t1)
    }
    val probeEntries = sharedSecond.collect {
      case (name, (false, t)) => s"${name}_probe" -> (false, t)
    }
    val results = sharedEntries ++ probeEntries ++
      sweepA.zip(sweepB).map { case ((name, (okA, tA)), (_, (okB, tB))) =>
        val samples = Seq((okA, tA), (okB, tB)) ++ sweepC.get(name)
        name -> (samples.forall(_._1), samples.map(_._2).min)
      }
    // locale-pinned formatting: the f interpolator uses the JVM
    // default locale, and a comma-decimal locale would break the JSON
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // a failed query is recorded as a negative time so a fast failure
    // can never read as a fast pass; failures floor at 1ms so the
    // 3-decimal rounding can never erase the sign into "-0.000"
    def entry(k: String, ok: Boolean, v: Double): String =
      s"\"" + k + "\":" + fmt(if (ok) v else -math.max(v, 0.001))
    val qs = results.map { case (k, (ok, v)) => entry(k, ok, v) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, (false, _)) => s"\"$k\"" }
      .mkString("[", ",", "]")
    // headline total covers successful work only; failures are listed
    // in `errors` (and negative per-query times), never mixed into the
    // benchmark figure
    val total = results.collect { case (_, (true, v)) => v }.sum
    // the canary verdict rides BOTH json lines: ratio ~1.0 = quiet
    // host (the total is trustworthy as-is); >>1 = the recorded total
    // carries host contention of about that factor on work the code
    // hasn't changed — attribution a reader can recompute from the
    // per_sweep values and the pinned constant
    val canaryField =
      if (canaryRatios.isEmpty) ""
      else {
        val per = canaryRatios.map(fmt).mkString("[", ",", "]")
        s""","canary":{"ratio":${fmt(canaryRatios.min)},"per_sweep":$per,"pinned_sec":${fmt(canaryPinned.values.sum)}}"""
      }
    val sweepsField = s""","full_sweeps":${if (contended) 3 else 2}""" +
      s""","shared_conc":[$sharedConc1,$sharedConc2]"""
    // Full per-query detail goes to a file: the harness keeps only the
    // final ~2000 bytes of the log, and ~90 query entries (~2.5 KB)
    // have never fit, so no round's bench line has parsed. The stdout
    // line carries the headline plus as many of the SLOWEST queries as
    // fit a byte budget that keeps the whole line inside the tail
    // (slowest-first because those are the ones perf review needs).
    val detail = s"""{"metric":"total","value":${fmt(total)},"unit":"sec"$canaryField$sweepsField,"queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
    // delete any stale detail file from a prior run BEFORE writing, so a
    // failed write can never leave an old round's file masquerading as
    // current; only NonFatal is swallowed (OOM/interrupt must propagate),
    // and the stdout headline advertises the detail file only when the
    // write actually landed
    val detailPath = java.nio.file.Paths.get("BENCH_DETAIL.json")
    val detailOk =
      try {
        java.nio.file.Files.deleteIfExists(detailPath)
        java.nio.file.Files.write(detailPath, (detail + "\n").getBytes("UTF-8"))
        true
      } catch {
        case scala.util.control.NonFatal(_) => false // cwd not writable: stdout line still stands alone
      }
    val detailField = if (detailOk) s""","detail":"BENCH_DETAIL.json"""" else ""
    val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec"$canaryField$sweepsField,"sf":"$sfDir","errors":$errs$detailField"""
    val budget = 1600 - head.length
    val slowFirst = results.sortBy { case (_, (_, v)) => -v }
      .map { case (k, (ok, v)) => entry(k, ok, v) }
    val kept = new StringBuilder
    var keptN = 0
    slowFirst.foreach { e =>
      if (kept.length + e.length + 1 <= budget) {
        if (keptN > 0) kept.append(',')
        kept.append(e); keptN += 1
      }
    }
    println(head + s""","queries_omitted":${results.length - keptN},"queries":{$kept}}""")
    spark.stop()
  }
}
