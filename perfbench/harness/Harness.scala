package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Instrument
import graft.SparkEntry
import graft.ext.{Caches, Dedup}
import graft.jobs.{JobSession, Pipeline, RecommendationJob, UserMartJob, ZoneMartJob}
import graft.operators.ConnectedComponents
import graft.queries.ParityQueries
import graft.sources.{Sink, Tables}

/** The benchmark's JVM side: one workload, one closed-loop client.
  *
  * `perfbench/run.py` builds the inputs, launches this main, and checks the
  * outputs it leaves behind against the DuckDB oracles. Arguments are
  * `key=value` pairs:
  *
  *  - `workload`: `pipeline` (Pipeline.runArgs over a staged lake),
  *    `dedup` (catalog q76 through the `noop` sink) or `stage` (untimed:
  *    write the pipeline's lake into the fixture, see [[stageLake]]);
  *  - `fixture`: the input directory `fixtures.py` built;
  *  - `run`: a scratch directory for outputs, spans and the report;
  *  - `timed`: how many iterations are timed;
  *  - `warmup`: untimed iterations before timing, at least one;
  *  - `trace`: 0 = timed run (only the cumulative CPU listener attached),
  *    1 = traced run (per-layer counters and spans, see [[traced]]).
  *
  * The session is `JobSession.create`, the factory the job mains ship.
  */
object Harness {
  final case class Span(name: String, start: Long, end: Long,
                        parent: String, iteration: Int)

  private val t00 = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]

  /** Time `body` as a span; returns its result and wall seconds. */
  def span[T](name: String, parent: String = "", iteration: Int = -1)(
      body: => T): (T, Double) = {
    val s = System.nanoTime()
    val r = body
    val e = System.nanoTime()
    spans.synchronized(spans += Span(name, s - t00, e - t00, parent, iteration))
    (r, (e - s) / 1e9)
  }

  // q76 alone: Jaccard pairs, a connected-components run on the corpus,
  // cross pairs, then the incremental merge. q54, q59 and q73 repeat its
  // first half (pairs + one run); with them an iteration took 21 s, too
  // long for a run's time budget of about a minute including warm-up
  val Chain: Seq[String] = Seq("q76_incremental_clusters")
  val Marts: Seq[String] = Seq("user_mart", "zone_mart", "recommendations")
  val Date = "2024-01-20"
  val MaxKm = "2000.0"
  val ProcessedAt = "2024-02-01 00:00:00"

  // Pinned re-read schemas: partition columns come back with the type the
  // mart wrote, not an inferred one (as the q75 catalog face reads them).
  val MartSchemas: Map[String, String] = Map(
    "user_mart" -> ("user_id BIGINT, local_time TIMESTAMP, " +
      "home_city STRING, travel_count BIGINT, travel_array ARRAY<STRING>, " +
      "act_city STRING"),
    "zone_mart" -> ("week INT, city_id INT, week_message BIGINT, " +
      "week_reaction BIGINT, week_subscription BIGINT, week_user BIGINT, " +
      "month_message BIGINT, month_reaction BIGINT, " +
      "month_subscription BIGINT, month_user BIGINT, month INT"),
    "recommendations" -> ("user_left BIGINT, user_right BIGINT, " +
      "processed_dttm STRING, local_time TIMESTAMP, zone_id INT"))

  /** The catalog faces' projections (q46, q48, q75) of the written marts. */
  def martFace(spark: SparkSession, base: String, mart: String): DataFrame = {
    val df = spark.read.schema(StructType.fromDDL(MartSchemas(mart)))
      .parquet(s"$base/$mart")
    mart match {
      // stops in sorted order: see UserMartOracle on travel order
      case "user_mart" => df.select(col("user_id"),
        date_format(col("local_time"), "yyyy-MM-dd HH:mm:ss").as("local_time"),
        col("act_city"), col("home_city"), col("travel_count"),
        concat_ws(",", array_sort(col("travel_array"))).as("route"))
      case "zone_mart" => df.select(col("month"), col("week"),
        col("city_id"), col("week_message"), col("week_reaction"),
        col("week_subscription"), col("week_user"), col("month_message"),
        col("month_reaction"), col("month_subscription"), col("month_user"))
      case "recommendations" => df.select(col("user_left"),
        col("user_right"), col("zone_id"), col("processed_dttm"),
        date_format(col("local_time"), "yyyy-MM-dd HH:mm:ss").as("local_time"))
    }
  }

  def deleteTree(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(path))

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Untimed between iterations: drop session and operator caches and let
    * the ContextCleaner release the previous iteration's blocks. */
  def resetBetween(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Caches.releaseAll()
    System.gc()
    Thread.sleep(250)
  }

  /** One workload iteration, `iter` tags its spans. */
  trait Workload {
    def iteration(spark: SparkSession, iter: Int): Unit
    def prepare(): Unit = ()
  }

  final class PipelineWorkload(fixture: String, out: String) extends Workload {
    val events = s"$fixture/lake/events"
    val geo = s"$fixture/lake/geo"
    // dynamic partition overwrite would otherwise keep stale partitions
    override def prepare(): Unit = deleteTree(out)
    def iteration(spark: SparkSession, iter: Int): Unit =
      span("pipeline.run", "iteration", iter) {
        Pipeline.runArgs(spark, Array(events, geo, out, Date, MaxKm,
          ProcessedAt))
      }
  }

  /** The chain's catalog entries through the `noop` sink, except in
    * iteration `checkIter`, the last warm-up: it writes each result to
    * `checkDir` for the oracle check, which saves re-running the chain
    * after timing. By then the JIT and any state kept across iterations
    * are as warm as in the timed iterations. */
  final class DedupWorkload(fixture: String, checkDir: String, checkIter: Int)
      extends Workload {
    def iteration(spark: SparkSession, iter: Int): Unit =
      Chain.foreach { q =>
        span(s"queries.${q.takeWhile(_ != '_')}", "iteration", iter) {
          val df = SparkEntry.queries(q)(spark, fixture)
          if (iter == checkIter)
            df.write.mode("overwrite").parquet(s"$checkDir/$q")
          else noop(df)
        }
      }
  }

  /** Benchmark-owned listener for the traced run: every finished task and
    * every started job, read back per window. */
  final class TaskLog extends SparkListener {
    final case class Task(stage: Int, launch: Long, finish: Long,
                          runMs: Long, cpuNs: Long, shuffleBytes: Long,
                          shuffleRecords: Long, shuffleReadBytes: Long,
                          spillBytes: Long)
    val tasks = ArrayBuffer.empty[Task]
    @volatile var jobs = 0
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (m != null) tasks += Task(t.stageId, t.taskInfo.launchTime,
        t.taskInfo.finishTime, m.executorRunTime,
        m.executorCpuTime + m.executorDeserializeCpuTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        m.diskBytesSpilled)
    }
    def mark: (Int, Int) = synchronized((jobs, tasks.size))
    /** Wait until the asynchronous listener bus stops delivering. */
    def settle(): Unit = {
      var last = (-1, -1)
      var cur = mark
      var waited = 0
      while (cur != last && waited < 5000) {
        Thread.sleep(100); waited += 100; last = cur; cur = mark
      }
    }
    def since(m: (Int, Int)): (Int, Seq[Task]) = synchronized {
      (jobs - m._1, tasks.slice(m._2, tasks.size).toSeq)
    }
  }

  /** Counters of one window of tasks: `wallMs` is the window's wall. */
  def windowMetrics(jobs: Int, ts: Seq[TaskLog#Task], startMs: Long,
                    endMs: Long, cores: Int): Map[String, Double] = {
    val wallMs = math.max(1L, endMs - startMs)
    val busyMs = ts.map(_.runMs).sum
    // idle: window time covered by no task interval
    var covered = 0L
    var curS = -1L
    var curE = -1L
    ts.map(t => (math.max(t.launch, startMs), math.min(t.finish, endMs)))
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    covered += curE - curS
    val skew = ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
      val d = st.map(t => math.max(1L, t.finish - t.launch)).sorted
      d.last.toDouble / d(d.size / 2)
    }
    Map(
      "scheduler.jobs" -> jobs.toDouble,
      "scheduler.tasks" -> ts.size.toDouble,
      "scheduler.core_busy_frac" -> busyMs.toDouble / (wallMs * cores),
      "scheduler.idle_s" -> (wallMs - covered) / 1e3,
      "exchange.shuffle_bytes" -> ts.map(_.shuffleBytes).sum.toDouble,
      "exchange.shuffle_records" -> ts.map(_.shuffleRecords).sum.toDouble,
      "exchange.spill_bytes" -> ts.map(_.spillBytes).sum.toDouble,
      "exchange.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "cpu_s" -> ts.map(_.cpuNs).sum / 1e9)
  }

  /** Bytes this JVM has read through read system calls (`rchar`). A
    * window's delta less its tasks' shuffle-file reads is the bytes its
    * scans read (parquet data and footers). Neither the tasks' input
    * metrics nor the Hadoop file-system counters measure scans here: the
    * parquet reader's vectored reads bypass the counters, and the input
    * metrics also count reads of cached and checkpointed blocks. */
  def bytesReadBySyscalls(): Long =
    scala.io.Source.fromFile("/proc/self/io").getLines()
      .find(_.startsWith("rchar:")).map(_.split("\\s+")(1).toLong)
      .getOrElse(0L)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def dirStats(path: String): (Long, Long, Long) = {
    // (bytes, data files, partition directories) of a written mart
    val root = new File(path)
    val parts = Option(root.listFiles).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.contains("="))
    val files = parts.flatMap(p => Option(p.listFiles).getOrElse(Array.empty))
      .filter(f => f.getName.endsWith(".parquet"))
    (files.map(_.length).sum, files.length.toLong, parts.length.toLong)
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  /** The pipeline's input lake, written into `fixture/lake` from the
    * fixture's raw tables the way the q75 catalog face stages it:
    * reference-shaped events partitioned by `date`, plus the geo table. */
  def stageLake(fixture: String): Unit = {
    val spark = JobSession.create("graft perfbench stage")
    ParityQueries.refEventsFullForProbe(spark, fixture)
      .withColumn("date", to_date(col("event.datetime")))
      .write.partitionBy("date").mode("overwrite")
      .parquet(s"$fixture/lake/events")
    ParityQueries.refGeoForProbe(spark, fixture).write.mode("overwrite")
      .parquet(s"$fixture/lake/geo")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
    val kind = kv("workload")
    val fixture = kv("fixture")
    if (kind == "stage") { stageLake(fixture); return }
    val runDir = kv("run")
    val timed = kv("timed").toInt
    val warmup = kv("warmup").toInt
    require(warmup >= 1, "warmup: the dedup chain's check needs one")
    val trace = kv("trace") == "1"
    val out = s"$runDir/marts"
    val report = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    val (spark, sessionS) = span("setup.session")(
      JobSession.create("graft perfbench"))
    val cores = spark.sparkContext.defaultParallelism
    val workload: Workload = kind match {
      case "pipeline" => new PipelineWorkload(fixture, out)
      case "dedup"    => new DedupWorkload(fixture, s"$runDir/check", -warmup)
    }
    var attempted = 0
    var failed = 0
    // the only listener attached outside the traced phase: the cumulative
    // task-CPU accumulator
    val cpu = Instrument.cpuAccum(spark)
    /** One reset + iteration: (wall s, task CPU s), or None when it threw. */
    def once(iter: Int, tag: String): Option[(Double, Double)] = {
      resetBetween(spark)
      workload.prepare()
      attempted += 1
      val c0 = cpu.settle()
      try {
        val w = span(tag, "", iter)(workload.iteration(spark, iter))._2
        Some((w, (cpu.settle() - c0) / 1e9))
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] iteration $iter failed: $e")
        e.printStackTrace()
        None
      }
    }
    val (_, warmS) = span("setup.warmup") {
      (1 to warmup).foreach(i => once(-i, "warmup"))
    }
    report("setup_s") = sessionS + warmS

    // the timed loop: closed loop, one client. A fixed count of iterations,
    // so the samples are the same iterations of the JIT's warm-up slope
    // however fast they run; a failed iteration ends it
    val walls = ArrayBuffer.empty[Double]
    val cpus = ArrayBuffer.empty[Double]
    var iter = 0
    while (iter < timed && walls.size == iter) {
      iter += 1
      once(iter, "iteration").foreach { case (w, c) => walls += w; cpus += c }
    }
    cpu.detach()
    report("walls") = walls.toSeq
    report("cpus") = cpus.toSeq
    report("wall_s") = median(walls.toSeq)
    report("cpu_s") = median(cpus.toSeq)

    if (trace && walls.nonEmpty) traced(spark, kind, fixture, runDir, out,
      cores, workload, walls.last, report)
    writeChecks(spark, kind, out, runDir)
    report("attempted") = attempted
    report("failed") = failed
    report("peak_rss_mb") = peakRssMb()
    report("cores") = cores
    spark.stop()
    writeJson(s"$runDir/spans.json", spans.toSeq.map(s => Map(
      "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
      "parent" -> s.parent, "iteration" -> s.iteration)))
    writeJson(s"$runDir/report.json", report.toMap)
  }

  /** Dump what `oracle.py` compares: the pipeline's three marts re-read
    * through their catalog faces, and the oracle SQL each output must
    * hash-equal. (The dedup chain's outputs were written by its last
    * warm-up iteration, see [[DedupWorkload]].) */
  def writeChecks(spark: SparkSession, kind: String, out: String,
                  runDir: String): Unit = {
    val dir = s"$runDir/check"
    val oracles = SparkEntry.oracleSql
    val sql = kind match {
      case "pipeline" =>
        Marts.foreach(m => martFace(spark, out, m).write.mode("overwrite")
          .parquet(s"$dir/$m"))
        spark.read.schema(StructType.fromDDL(MartSchemas("user_mart")))
          .parquet(s"$out/user_mart")
          .select(col("user_id"), concat_ws(",", col("travel_array")).as("route"))
          .write.mode("overwrite").parquet(s"$dir/info.user_mart_route_order")
        Map("user_mart" -> UserMartOracle.sql(chronological = false),
          "info.user_mart_route_order" -> ("SELECT user_id, route FROM (" +
            UserMartOracle.sql(chronological = true) + ")"),
          "zone_mart" -> oracles("q48_zone_mart"),
          "recommendations" -> oracles("q49_recommendations"))
      case "dedup" => Chain.map(q => q -> oracles(q)).toMap
    }
    writeJson(s"$dir/oracle_sql.json", sql)
  }

  /** The traced run: one traced iteration between two untraced ones (the
    * last timed iteration and one after it; their mean is the base of
    * `trace_overhead`, which cancels the JIT's steady speed-up), then each
    * layer's public calls one at a time. */
  def traced(spark: SparkSession, kind: String, fixture: String,
             runDir: String, out: String, cores: Int, workload: Workload,
             lastWall: Double, report: scala.collection.mutable.Map[String, Any])
  : Unit = {
    val log = new TaskLog
    spark.sparkContext.addSparkListener(log)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    /** Run `body` as a span and a listener window: (wall s, counters). */
    def window(name: String)(body: => Unit): (Double, Map[String, Double]) = {
      log.settle()
      val mk = log.mark
      val r0 = bytesReadBySyscalls()
      val s = System.currentTimeMillis()
      val (_, w) = span(name, "traced")(body)
      val e = System.currentTimeMillis()
      log.settle()
      val (jobs, ts) = log.since(mk)
      (w, windowMetrics(jobs, ts, s, e, cores) + ("sources.bytes_read" ->
        (bytesReadBySyscalls() - r0 - ts.map(_.shuffleReadBytes).sum).toDouble))
    }

    resetBetween(spark)
    workload.prepare()
    val (tracedWall, it) = window("traced.iteration")(workload.iteration(spark, 0))
    spark.sparkContext.removeSparkListener(log)
    resetBetween(spark)
    workload.prepare()
    val (_, afterWall) = span("untraced.iteration")(workload.iteration(spark, 1))
    spark.sparkContext.addSparkListener(log)
    m("trace_overhead") = tracedWall / ((lastWall + afterWall) / 2)
    Seq("scheduler.jobs", "scheduler.tasks", "scheduler.core_busy_frac",
      "scheduler.idle_s", "exchange.shuffle_bytes", "exchange.shuffle_records",
      "exchange.spill_bytes", "exchange.task_skew", "sources.bytes_read")
      .foreach(k => m(k) = it(k))

    for (k <- Seq("sink.bytes_written", "sink.files_written",
        "sink.files_per_value", "jobs.recommendations.candidate_pairs",
        "ext.jaccard_pairs.s",
        "ext.jaccard_pairs.rows", "operators.cc.s", "operators.cc.rounds",
        "operators.cc.jobs") ++
        Marts.flatMap(x => Seq(s"jobs.$x.s", s"jobs.$x.cpu_s", s"sink.$x.s")) ++
        Chain.map(q => s"queries.${q.takeWhile(_ != '_')}.s"))
      m(k) = 0.0

    kind match {
      case "pipeline" =>
        val pw = workload.asInstanceOf[PipelineWorkload]
        val stats = Marts.map(x => dirStats(s"$out/$x"))
        m("sink.bytes_written") = stats.map(_._1).sum.toDouble
        m("sink.files_written") = stats.map(_._2).sum.toDouble
        m("sink.files_per_value") =
          stats.map(_._2).sum.toDouble / math.max(1L, stats.map(_._3).sum)
        val (scanS, scan) = window("sources.scan") {
          noop(spark.read.parquet(pw.events))
          noop(spark.read.parquet(pw.geo))
        }
        m("sources.scan_s") = scanS
        report("scan_bytes_read") = scan("sources.bytes_read")
        val inputBytes = Files.walk(Paths.get(fixture, "lake")).filter(
          p => p.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum
        m("sources.read_amplification") = m("sources.bytes_read") / inputBytes
        def frames() = {
          val ev = spark.read.parquet(pw.events)
          val geo = spark.read.parquet(pw.geo)
          val atDate = spark.read.parquet(s"${pw.events}/date=$Date")
          (ev, geo, atDate)
        }
        def transformOf(mart: String): (DataFrame, String, Seq[String]) = {
          val (ev, geo, atDate) = frames()
          mart match {
            case "user_mart" => (UserMartJob.transform(ev, geo), "act_city",
              Seq("user_id"))
            case "zone_mart" => (ZoneMartJob.transform(ev, geo), "month",
              Seq("week", "city_id"))
            case "recommendations" => (RecommendationJob.transform(ev, atDate,
              geo, Date, MaxKm.toDouble,
              to_timestamp(lit(ProcessedAt))), "zone_id",
              Seq("user_left", "user_right"))
          }
        }
        Marts.foreach { mart =>
          resetBetween(spark)
          val (w, c) = window(s"jobs.$mart.transform")(noop(transformOf(mart)._1))
          m(s"jobs.$mart.s") = w
          m(s"jobs.$mart.cpu_s") = c("cpu_s")
          resetBetween(spark)
          val dst = s"$runDir/sink_probe/$mart"
          deleteTree(dst)
          val (sw, _) = window(s"sink.$mart.write") {
            val (df, p, sortCols) = transformOf(mart)
            Sink.writePartitionedSorted(df, dst, p, sortCols)
          }
          m(s"sink.$mart.s") = sw - w
        }
        resetBetween(spark)
        val (ev, geo, atDate) = frames()
        val subs = RecommendationJob.subscribers(ev).cache()
        val cand = RecommendationJob.possibleSubscribersToCommunicate(subs,
          RecommendationJob.communicatingSubscribers(ev, subs), atDate, Date,
          MaxKm.toDouble).count()
        m("jobs.recommendations.candidate_pairs") = cand.toDouble
        report("choose_grid_zone") = RecommendationJob.chooseGridZone(ev, geo)

      case "dedup" =>
        val docs = Tables.documents(spark, fixture)
        spans.filter(s => s.iteration == 0 && s.name.startsWith("queries."))
          .foreach(s => m(s"${s.name}.s") = (s.end - s.start) / 1e9)
        val (scanS, scan) = window("sources.scan")(noop(docs))
        m("sources.scan_s") = scanS
        report("scan_bytes_read") = scan("sources.bytes_read")
        val inputBytes = new File(s"$fixture/documents.parquet").length
        m("sources.read_amplification") = m("sources.bytes_read") / inputBytes
        resetBetween(spark)
        var pairs: DataFrame = null
        m("ext.jaccard_pairs.s") = window("ext.jaccard_pairs") {
          pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3,
              minJaccard = 0.1, maxShingleDf = 5L)
            .select(col("id_a"), col("id_b")).localCheckpoint(true)
        }._1
        m("ext.jaccard_pairs.rows") = pairs.count().toDouble
        var rounds = 0
        val (ccWall, cc) = window("operators.cc") {
          val (labels, r) = ConnectedComponents.runCounted(pairs, "id_a", "id_b")
          rounds = r
          noop(labels)
        }
        m("operators.cc.s") = ccWall
        m("operators.cc.rounds") = rounds.toDouble
        m("operators.cc.jobs") = cc("scheduler.jobs")
    }
    spark.sparkContext.removeSparkListener(log)
    report("per_layer") = m.toMap
  }

  def toJson(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => toJson(k.toString) + ":" +
      toJson(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(toJson).mkString("[", ",", "]")
    case other => toJson(other.toString)
  }

  def writeJson(path: String, v: Any): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.write(Paths.get(path), toJson(v).getBytes(StandardCharsets.UTF_8))
  }
}
