package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main. Runs every catalog query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line for the driver.
  *
  * Each query is fully materialized through the `noop` sink (every column
  * produced, nothing written) — `count()` would let Catalyst prune the
  * projections and time little more than the scan. Failures are printed to
  * stderr with the full stack, timed as -1, and flip the exit code so a
  * broken query surfaces as an error rather than a fast timing.
  */
object Bench {

  /** Epoch-calibration probe (round-16): a FIXED synthetic workload —
    * pinned CPU-bound projection (two chained xxhash64 passes over a
    * deterministic range) plus exactly one small shuffle (1024-group
    * rollup) — run untimed-then-timed at bench start and timed again at
    * bench end, never part of the catalog. Its wall is a pure function of
    * the machine epoch (effective per-core throughput + shuffle latency),
    * so `cal_start`/`cal_end` in the tail line let a reader NORMALIZE two
    * rounds' walls measured under different ambient load: carried-147
    * driver ratios tracked `load_avg_end` (1.30× loaded vs 0.74× clean,
    * same build, round 15) — dividing each run's walls by its own cal
    * median removes exactly that axis. A large start→end spread within
    * one run flags an epoch that CHANGED mid-bench (walls then aren't
    * comparable even within the run). Sized ~1 s on an idle 32-thread
    * box; partitions ride SPARK_GRAFT_CPUS so the probe saturates the
    * same slots the catalog does.
    */
  def calibrationWall(spark: SparkSession, cpus: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 128L * 1000 * 1000, 1L, cpus)
      .selectExpr("xxhash64(id) AS h1")
      // h2 % 1e6 keeps the per-group sum far under Long.MaxValue — ANSI
      // mode (Spark 4 default) faults a raw sum of 64-bit hashes
      .selectExpr("h1 % 1024 AS k", "xxhash64(h1) % 1000000 AS h2")
      .groupBy("k")
      .agg(org.apache.spark.sql.functions.sum("h2"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Median of three timed probe runs (the probe is ~1 s; three runs
    * tolerate one scheduler hiccup without moving the recorded value). */
  def calibrationMedian(spark: SparkSession, cpus: Int): Double = {
    val ts = (1 to 3).map(_ => calibrationWall(spark, cpus)).sorted
    ts(1)
  }

  def r3(v: Double): String =
    if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
  // 2-decimal, trailing-zeros-stripped ("0.50"→"0.5"): at 66 queries the
  // line must stay well under the ~2000-char tail window MINUS sbt's
  // trailing "[success] ..." line
  def r2(v: Double): String =
    if (v < 0) "-1"
    else {
      val bd = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      if (bd.signum == 0) "0" else bd.underlying.stripTrailingZeros.toPlainString
    }
  def r1(v: Double): String =
    if (v < 0) "-1"
    else {
      val bd = BigDecimal(v).setScale(1, BigDecimal.RoundingMode.HALF_UP)
      if (bd.signum == 0) "0" else bd.underlying.stripTrailingZeros.toPlainString
    }
  // integer deciseconds ("4.53"→"45", "0.52"→"5"): the round-16 ladder
  // step — same 0.1 s resolution as r1 with the decimal point and the
  // "0." prefix gone (~2 chars/query on a mostly-sub-second catalog)
  def rDs(v: Double): String =
    if (v < 0) "-1" else math.round(v * 10).toString

  /** The driver-tail JSON line, extracted from main so the char budget is
    * SPEC-PINNED at simulated future catalog sizes instead of discovered
    * the round a step bursts (BenchLineSpec pins 200 queries inside the
    * window). The driver parses the last ~2000 chars of stdout; each
    * ladder step trades per-query detail for fit, and the last (totals +
    * provenance only, per-query walls delegated to BENCH_PLANSHAPE.json,
    * which the driver also reads) always fits:
    *   1. 2-decimal walls, short keys ("q24")
    *   2. 1-decimal walls, short keys
    *   3. 1-decimal walls, bare keys ("24")
    *   4. integer-DECISECOND walls, bare keys, map renamed "q_ds" so the
    *      unit is self-describing (round-16; same 0.1 s resolution as
    *      step 3, ~2 chars/query shorter)
    *   5. totals + provenance only
    * Provenance fields ride every step: cpu_total, store_cold_builds,
    * load_avg_end, and the round-16 epoch-calibration walls
    * cal_start/cal_end (see [[calibrationWall]]; BASELINE.md documents
    * the normalization).
    */
  def tailLine(entries: Seq[(String, Double)], total: Double,
               cpuTotal: Double, failed: Seq[String], coldBuilds: Int,
               loadAvg: Double, calStart: Double, calEnd: Double,
               sfName: String, budget: Int = 1980,
               note: String => Unit = System.err.println): String = {
    val errs = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val shortKeys = entries.map { case (k, _) => k.takeWhile(_ != '_') }
    val keys =
      if (shortKeys.distinct.size == entries.size) shortKeys
      else entries.map(_._1)
    val bareKeys = keys.map(_.stripPrefix("q"))
    val bareOk = bareKeys.distinct.size == entries.size
    def mkLine(fmt: Double => String, withQueries: Boolean,
               keySet: Seq[String] = keys,
               queriesField: String = "queries"): String = {
      val qs =
        if (withQueries)
          keySet.zip(entries).map { case (k, (_, v)) =>
            "\"" + k + "\":" + fmt(v)
          }.mkString("{", ",", "}")
        else "{}"
      // empty errors array is dead weight on a tight budget — omit it
      val errField = if (failed.isEmpty) "" else s""","errors":$errs"""
      // load + store provenance IN the tail line (round-15, verdict item
      // 8) + the round-16 calibration walls: the driver's BENCH_r{N}.json
      // self-describes its epoch — cold_builds > 0 means one-off store
      // derivations were paid, load_avg_end is the ambient 1-min load at
      // finish, cal_start/cal_end are the fixed synthetic probe's walls
      // bracketing the catalog (normalize cross-round walls by dividing
      // each run's by its own cal median; a big start→end spread flags a
      // mid-run epoch change).
      val prov = {
        val load = if (loadAvg >= 0) s""","load_avg_end":${r1(loadAvg)}""" else ""
        val cal =
          if (calStart >= 0 && calEnd >= 0)
            s""","cal_start":${r2(calStart)},"cal_end":${r2(calEnd)}"""
          else ""
        // overridden runs self-identify (ADVICE r16): a bench run produced
        // under SPARK_GRAFT_EXTRA_CONF carries the overrides in its line,
        // so an A/B number can never be mistaken for (or passed off as) a
        // clean-session result. Absent when unset — the driver's line is
        // byte-identical to prior rounds'.
        val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF")
          .filter(_.nonEmpty)
          .map(v => s""","extra_conf":"${v.replace("\"", "'")}"""")
          .getOrElse("")
        s""","store_cold_builds":$coldBuilds$load$cal$extra"""
      }
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","cpu_total":${r1(cpuTotal)}$prov,"$queriesField":$qs$errField,"sf":"$sfName"}"""
    }
    val l2 = mkLine(r2, withQueries = true)
    if (l2.length <= budget) l2
    else {
      val l1 = mkLine(r1, withQueries = true)
      if (l1.length <= budget) l1
      else {
        val lb = if (bareOk) mkLine(r1, withQueries = true, keySet = bareKeys)
                 else l1
        if (lb.length <= budget) {
          note("[bench] tail line keys compressed to bare numbers " +
            "(\"178\" = q178) to fit the window")
          lb
        } else {
          val lds =
            if (bareOk)
              mkLine(rDs, withQueries = true, keySet = bareKeys,
                queriesField = "q_ds")
            else lb
          if (lds.length <= budget) {
            note("[bench] tail line walls compressed to integer " +
              "deciseconds (\"q_ds\") to fit the window")
            lds
          } else {
            note(s"[bench] tail line over budget even in deciseconds " +
              s"with bare keys (${lds.length} chars); dropping the " +
              s"per-query map — read bench_full.json / " +
              s"BENCH_PLANSHAPE.json for per-query timings")
            mkLine(r1, withQueries = false)
          }
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.jobs.JobSession.CodegenConf)
      // ContextCleaner frees broadcast/shuffle state only after a driver GC
      // collects the weak references; the default periodicGC interval (30 min)
      // exceeds the whole bench, so 52 queries x 3 runs of broadcasts pile up
      // until the heaviest query hits memory churn (r4: q49 grew 10->20->42 s
      // across its own runs; stable at ~5 s in isolation).
      .config("spark.cleaner.periodicGC.interval", "30s")
      // the SQL status store retains metrics for every execution (default
      // 1000) even with the UI off — ~69 queries x 3 runs x subqueries keeps
      // thousands of execution graphs on the driver heap by the late
      // alphabet (r5: q46/q49 ran 2x their isolated time in the full bench)
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .getOrCreate()
    // local A/B experimentation hook (round-16): optional comma-separated
    // k=v conf overrides, applied to the RUNTIME conf only. Unset (the
    // driver's path) this is a no-op and the session above is bit-identical
    // to every prior round's; set, it lets a conf hypothesis ride the
    // bench's own warmup + median-of-N methodology instead of a noisy
    // single-shot probe. Values must not contain commas.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(',').foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => spark.conf.set(k.trim, v.trim)
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not key=value")
      }
    })
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: initialize codegen, the vectorized parquet reader, and
    // shuffle machinery so the first timed query measures the query, not JVM
    // startup (round-1 q01 carried ~5 s of warmup).
    try {
      spark.read.parquet(s"$sfDir/region.parquet")
        .groupBy("r_regionkey").count()
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    // epoch calibration, start side: one untimed run compiles the probe's
    // codegen so both recorded values are steady-state and comparable
    val calStart = try {
      calibrationWall(spark, cpus.toInt)
      calibrationMedian(spark, cpus.toInt)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] calibration probe failed: $e"); -1.0 }
    // load-insensitive cost accounting: task CPU time per query, summed by
    // a single long-lived listener; per-run deltas are attributable
    // because queries run strictly sequentially (round-7 lesson: q49 wall
    // swung 2.3x on machine load with identical plans — CPU would have
    // settled it in one read)
    val cpu = Instrument.cpuAccum(spark)
    var failed = List.empty[String]
    // median-of-5 per query: best-of-2 let one loaded-machine outlier swing
    // the round-3 total by +64% on an inert diff, and round 5's median-of-3
    // still carried ~25-60% inflation when machine load persisted across
    // all 3 runs — 5 runs tolerate two bad ones. All raw per-run times are
    // reported ("runs" in bench_full.json) so outliers stay visible.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    // comma-separated name filter for iterating on single queries locally,
    // e.g. SPARK_GRAFT_BENCH_ONLY=q22_jaccard_near_dups
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      // execution shape {jobs, stages} captured on the FIRST run only: the
      // counts are plan-determined and identical across runs, and the
      // listener drain (~300 ms) happens outside the timed region
      var shape: Option[Instrument.Counts] = None
      val samples = (1 to runs).flatMap { runIdx =>
        // operators that cache internally (e.g. GridNearestJoin) must not
        // hand their warm cache to the next timed run
        spark.catalog.clearCache()
        graft.ext.Caches.releaseAll()
        // untimed: give the ContextCleaner a collected old-gen so the
        // unpersist/broadcast-release above actually frees block-manager
        // memory before the next timed run, not during it — and a short
        // drain window, because the cleaner processes its reference queue
        // ASYNCHRONOUSLY and would otherwise do its unpersist I/O inside
        // the next timed region
        System.gc()
        Thread.sleep(250)
        def timedRun(): Option[(Double, Double)] = {
          // the prior run's settle() + the 250 ms sleep above drained the
          // listener bus, so a plain read is the run's true CPU baseline
          val c0 = cpu.value
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val wall = (System.nanoTime() - t0) / 1e9
            // settle AFTER wall is captured: the bounded bus drain charges
            // nothing to the timed region
            Some((wall, (cpu.settle() - c0) / 1e9))
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED")
            e.printStackTrace()
            if (!failed.contains(name)) failed ::= name
            None
          }
        }
        if (runIdx == 1) {
          val (t, c) = Instrument.countStages(spark)(timedRun())
          if (t.isDefined) shape = Some(c)
          t
        } else timedRun()
      }
      val times = samples.map(_._1)
      // upper-middle element: for odd counts this IS the median; for even
      // counts (SPARK_GRAFT_BENCH_RUNS=2, or a failed run out of 3) it takes
      // the higher of the two middles — conservative against the fast-
      // outlier distortion a min would reintroduce
      val median =
        if (times.isEmpty) -1.0
        else times.sorted.apply(times.size / 2)
      // CPU median over its OWN sorted order (not wall's index): the first
      // run carries codegen-compile CPU, which the median discards
      val cpuMedian =
        if (samples.isEmpty) -1.0
        else samples.map(_._2).sorted.apply(samples.size / 2)
      (name, median, cpuMedian, times, shape)
    }
    // epoch calibration, end side: same probe, codegen already warm from
    // the start side — start/end bracket the whole catalog run
    val calEnd = try calibrationMedian(spark, cpus.toInt)
      catch { case e: Throwable =>
        System.err.println(s"[bench] calibration probe failed: $e"); -1.0 }
    // The driver parses ONE JSON line from the tail (last ~2000 chars) of the
    // process output. Keep that line compact (3-decimal medians, no raw runs)
    // and print it LAST — after spark.stop() — so no late WARN can push it
    // out of the tail window. r04's line carried full-precision doubles plus
    // all raw runs (~7 KB): its head fell outside the window and the round's
    // bench was recorded as "parsed": null.
    val raw = results.map { case (k, _, _, ts, _) =>
      s"\"" + k + "\":" + ts.map(r3).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, _, _, _) if v >= 0 => v }.sum
    val cpuTotal =
      results.collect { case (_, _, c, _, _) if c >= 0 => c }.sum
    val errs = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // full per-run detail for humans, on stderr so it can't shadow the line
    System.err.println(s"""[bench-runs] {"runs":$raw,"runs_per_query":$runs,"agg":"median","sf":"$sfDir"}""")
    val sfName = new java.io.File(sfDir).getName
    // full-precision report (full names, 3-decimal medians, all raw runs)
    // goes to a FILE so the tail-line budget never constrains precision:
    // SPARK_GRAFT_BENCH_OUT if set, else bench_full.json in the CWD
    val fullJson = {
      val qs = results.map { case (k, v, cpuV, ts, shape) =>
        val sh = shape.map(c =>
          ",\"jobs\":" + c.jobs + ",\"stages\":" + c.stages).getOrElse("")
        "\"" + k + "\":{\"median\":" + r3(v) + ",\"cpu\":" + r3(cpuV) +
          ",\"runs\":" + ts.map(r3).mkString("[", ",", "]") + sh + "}"
      }.mkString("{", ",", "}")
      val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").filter(_.nonEmpty)
        .map(v => s""","extra_conf":"${v.replace("\"", "'")}"""")
        .getOrElse("")
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","cpu_total":${r3(cpuTotal)},"cal_start":${r3(calStart)},"cal_end":${r3(calEnd)}$extra,"queries":$qs,"errors":$errs,"runs_per_query":$runs,"agg":"median","sf":"$sfName"}"""
    }
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outPath), fullJson.getBytes("UTF-8"))
      System.err.println(s"[bench] full-precision report written to $outPath")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: $e")
    }
    // Execution-shape sidecar: wall medians PLUS the plan-determined
    // {jobs, stages} per query. Wall time carries a ±20% machine-variance
    // band; stage counts don't — a future round diffs this file against the
    // previous one to tell plan regressions from machine noise. Written to
    // the CWD (the repo root under the driver) and NOT gitignored, so each
    // round's run lands in history. Skipped when a name filter is active —
    // a partial map must not shadow a full one.
    if (only.isEmpty) {
      val shapeJson = {
        val qs = results.map { case (k, v, cpuV, _, shape) =>
          val sh = shape.map(c =>
            "\"wall\":" + r2(v) + ",\"cpu\":" + r2(cpuV) +
              ",\"jobs\":" + c.jobs +
              ",\"stages\":" + c.stages)
            .getOrElse("\"wall\":" + r2(v) + ",\"cpu\":" + r2(cpuV))
          "\"" + k + "\":{" + sh + "}"
        }.mkString("{", ",", "}")
        // store + load provenance (round-14): cold_builds > 0 means this
        // run paid one-off content-keyed store derivations (wiped /tmp)
        // and its walls are NOT comparable query-by-query to a warm run
        // with identical plans; load_avg_end is the ambient 1-min OS load
        // when the bench finished — the machine-epoch signal the round-13
        // bisect had to reconstruct after the fact
        val store = s""","store_cold_builds":${
          graft.sources.Tables.storeColdBuilds.get},"store_warm_reads":${
          graft.sources.Tables.storeWarmReads.get}"""
        val load = {
          val l = java.lang.management.ManagementFactory
            .getOperatingSystemMXBean.getSystemLoadAverage
          if (l >= 0) s""","load_avg_end":${r1(l)}""" else ""
        }
        val cal = s""","cal_start":${r2(calStart)},"cal_end":${r2(calEnd)}"""
        s"""{"cpu_total":${r2(cpuTotal)},"queries":$qs,"runs_per_query":$runs,"agg":"median","sf":"$sfName"$store$load$cal}"""
      }
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get("BENCH_PLANSHAPE.json"),
          shapeJson.getBytes("UTF-8"))
        System.err.println("[bench] plan-shape sidecar written to BENCH_PLANSHAPE.json")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write BENCH_PLANSHAPE.json: $e")
      }
    }
    // degradation ladder — the line must fit a ~2000-char tail capture or
    // the round records "parsed": null. Nothing prints after this line
    // (build.sbt sets showSuccess := false). The ladder lives in
    // [[tailLine]] (extracted round-16) so BenchLineSpec pins the char
    // budget at simulated future catalog sizes.
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val line = tailLine(
      results.map { case (k, v, _, _, _) => (k, v) },
      total, cpuTotal, failed,
      graft.sources.Tables.storeColdBuilds.get, loadAvg,
      calStart, calEnd, sfName)
    try spark.stop()
    finally println(line)
    if (failed.nonEmpty) sys.exit(1)
  }
}
