package perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The measuring JVM of perfbench (started by run.py): sets up one
  * workload, warms it, runs it for the measured time and writes its
  * figures as JSON. */
object Main {
  final case class Opts(workload: String, data: String, work: String, check: String,
      params: String, seedDir: String, seconds: Double, trace: Boolean, cores: Int,
      out: String, run: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("data"), m("work"), m("check"), m("params"), m("seed-dir"),
      m("seconds").toDouble, m("trace") == "1", m("cores").toInt, m("out"),
      m.getOrElse("run", "run"))
  }

  /** Every per-layer metric; a workload that does not touch a layer
    * reports 0 for it. */
  val PerLayer: Seq[String] = Seq(
    "sources.parquet_write_s", "sources.parquet_read_s", "sources.npz_write_s",
    "sources.npz_read_s", "sources.scan_bytes", "sources.bytes_written_per_input_byte",
    "sources.files_written", "sources.index_files_max",
    "core.scan_events_s", "core.groupby_sum_s", "core.add_s", "core.join_axis1_s",
    "core.cells_out_per_in") ++
    Seq("shingle_hashes", "minhash_band_keys", "winnow_hashes", "ordered_pairs", "capped_list",
      "pq_codes", "pq_adc_score", "int8_cosine", "ivf_cells", "baseline")
      .map(k => s"functions.${k}_ns_per_row") ++ Seq(
    "operators.exact_duplicates_s", "operators.near_duplicates_s", "operators.overlap_pairs_s",
    "operators.overlap_topk_s", "operators.ivf_pq_search_s",
    "operators.lsh_candidates", "operators.verified_pairs", "operators.candidate_yield",
    "operators.overlap_pairs", "operators.union_find_s", "operators.ivf_train_s",
    "operators.pq_train_s", "operators.probe_candidates_per_query",
    "streaming.trigger_s", "streaming.add_batch_s", "streaming.planning_s",
    "streaming.commit_s", "streaming.queue_wait_s", "streaming.backlog_files_max",
    "streaming.generator_late_s",
    "plans.planning_s",
    "exchange.shuffle_write_bytes", "exchange.shuffle_read_bytes", "exchange.fetch_wait_s",
    "exchange.spill_bytes",
    "executor.task_s", "executor.cpu_s", "executor.gc_s", "executor.tasks",
    "driver.jobs", "driver.gap_s", "driver.unattributed_job_share",
    "share.sources", "share.core", "share.operators", "share.bench",
    "vector.build_s",
    "trace.pass_s", "trace.untraced_pass_s", "trace.overhead_s")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The tail latency and its percentile: the highest percentile with at
    * least 10 samples above it when that percentile is at least the 90th
    * (n >= 100), else the linearly interpolated 90th percentile. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size >= 100) (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
    else {
      val r = 0.9 * (s.size - 1)
      val lo = r.toInt
      val hi = math.min(lo + 1, s.size - 1)
      (s(lo) + (r - lo) * (s(hi) - s(lo)), 90.0)
    }
  }

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def epochNs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val params = mapper.readTree(new File(o.params)).get("workloads").get(o.workload).get("params")
    val expect = mapper.readTree(new File(o.data, "expect.json"))
    new File(o.work).mkdirs()
    new File(o.check).mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val result = mutable.LinkedHashMap.empty[String, Any]
    try {
      log(f"session ready at ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.2f s")
      val wl = Workload(o.workload, spark, o.data, o.work, o.check, params, expect)
      wl.setup()
      (1 to wl.warmups).foreach { i =>
        val t0 = System.nanoTime()
        wl.pass(Tracer.Off)
        log(f"warm-up $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      val setupDone = () => result("setup_end_ns") = epochNs
      val (attempted, failed, metrics, details) = wl match {
        case s: StreamIngest => runStream(s, o, spark, setupDone)
        case c =>
          setupDone()
          runClosed(c, o, spark)
      }
      result("attempted") = attempted
      result("failed") = failed
      result("metrics") = metrics
      result("details") = details
    } finally spark.stop()
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(o.out), result)
  }

  private def e2e(passS: Double, rowsPerOp: Double, latencies: Seq[Double]): (Map[String, Double], Double) = {
    val (tailV, tailPct) = tail(latencies)
    (Map("pass_s" -> passS, "rows_per_s" -> rowsPerOp / passS,
      "batch_latency_p50_s" -> median(latencies), "batch_latency_tail_s" -> tailV,
      "peak_rss_mb" -> peakRssMb), tailPct)
  }

  private def withDefaults(m: collection.Map[String, Double]): Map[String, Double] =
    PerLayer.map(k => k -> m.getOrElse(k, 0.0)).toMap

  private def runClosed(wl: Workload, o: Opts, spark: SparkSession) = {
    val live = if (o.trace) Some(new LiveTracer(spark, o.run)) else None
    final case class Rec(traced: Boolean, wall: Double, out: PassOut, root: Option[Span])
    val recs = mutable.ArrayBuffer.empty[Rec]
    var attempted = 0
    var failed = 0
    var broken = false
    // passes keep getting faster for a dozen passes (JIT), and a single
    // pass on a shared host can be slowed by a neighbour; the median of
    // at least five is moved by neither the first nor one slow pass
    val minPasses = 5
    val t0 = System.nanoTime()
    var i = 0
    while (!broken && ((System.nanoTime() - t0) / 1e9 < o.seconds || recs.size < minPasses)) {
      val traced = live.isDefined && i % 2 == 1
      val tr: Tracer = if (traced) live.get else Tracer.Off
      attempted += 1
      try {
        val st = System.nanoTime()
        val out = live.filter(_ => traced).map(_.span("pass")(wl.pass(tr))).getOrElse(wl.pass(tr))
        val wall = (System.nanoTime() - st) / 1e9
        tr.release()
        if (!out.ok) failed += 1
        recs += Rec(traced, wall, out, live.filter(_ => traced).map(_.spans.last))
      } catch {
        case e: Throwable =>
          failed += 1
          broken = true
          log(s"pass failed: $e")
          e.printStackTrace()
      }
      i += 1
    }
    val measured = (System.nanoTime() - t0) / 1e9
    if (!broken) wl.finish()
    val plain = recs.filterNot(_.traced)
    val details = mutable.LinkedHashMap[String, Any]("measured_s" -> measured,
      "passes" -> recs.size, "pass_walls_s" -> recs.map(_.wall))
    val metrics: Map[String, Double] = live match {
      case _ if plain.isEmpty => Map.empty
      case None =>
        val (m, pct) = e2e(median(plain.map(_.wall).toSeq), wl.rowsPerOp, plain.flatMap(_.out.opLatencies).toSeq)
        details("batch_latency_tail_percentile") = pct
        details("batch_latencies_s") = plain.flatMap(_.out.opLatencies)
        m
      case Some(t) =>
        val traced = recs.filter(_.traced)
        t.drain()
        val perPass = traced.map(r => passLayers(t, r.root.get, r.wall) ++ r.out.extras)
        val keys = perPass.flatMap(_.keys).distinct
        val m = mutable.HashMap.empty[String, Double]
        keys.foreach(k => m(k) = median(perPass.map(_.getOrElse(k, 0.0)).toSeq))
        m ++= wl.probes(t)
        if (m.contains("operators.lsh_candidates") && m("operators.lsh_candidates") > 0)
          m("operators.candidate_yield") = m("operators.verified_pairs") / m("operators.lsh_candidates")
        m ++= t.span("probe.kernels")(KernelProbe.run(spark, o.seedDir))
        finishTrace(t, o, m, median(traced.map(_.wall).toSeq), median(plain.map(_.wall).toSeq))
        withDefaults(m)
    }
    (attempted, failed, metrics, details)
  }

  private def finishTrace(t: LiveTracer, o: Opts, m: mutable.Map[String, Double],
      tracedPass: Double, plainPass: Double): Unit = {
    t.stop()
    val (attributed, unattributed) = t.jobAttribution
    m("driver.unattributed_job_share") =
      if (attributed + unattributed == 0) 0.0 else unattributed.toDouble / (attributed + unattributed)
    m("trace.pass_s") = tracedPass
    m("trace.untraced_pass_s") = plainPass
    m("trace.overhead_s") = tracedPass - plainPass
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(o.work, "spans.json"), t.spansJson)
  }

  /** Per-layer figures of one traced pass rooted at `root`. */
  private def passLayers(t: LiveTracer, root: Span, wall: Double): Map[String, Double] = {
    val ids = t.subtree(root)
    val ss = t.spans.filter(s => ids.contains(s.id)).toSeq
    val m = mutable.HashMap.empty[String, Double]
    ss.filter(s => s.id != root.id).foreach(s => m(s.name + "_s") = m.getOrElse(s.name + "_s", 0.0) + s.wallS)
    val childWall = ss.groupBy(_.parent).map { case (pid, cs) => pid -> cs.map(_.wallS).sum }
    ss.foreach { s =>
      val layer = if (s.id == root.id) "bench" else s.layer
      val self = s.wallS - childWall.getOrElse(s.id, 0.0)
      m(s"share.$layer") = m.getOrElse(s"share.$layer", 0.0) + self / wall
    }
    val c = t.countersOf(ids, root.startMs, root.endMs)
    m ++= counterMetrics(c, 1.0)
    m("driver.gap_s") = (root.endMs - root.startMs -
      Layers.unionMs(c.jobIntervals.toSeq, root.startMs, root.endMs)) / 1000.0
    m.toMap
  }

  private def counterMetrics(c: Counters, per: Double): Map[String, Double] = Map(
    "sources.scan_bytes" -> c.inputBytes / per,
    "exchange.shuffle_write_bytes" -> c.shuffleWrite / per,
    "exchange.shuffle_read_bytes" -> c.shuffleRead / per,
    "exchange.fetch_wait_s" -> c.fetchWaitMs / 1000.0 / per,
    "exchange.spill_bytes" -> c.spill / per,
    "executor.task_s" -> c.runMs / 1000.0 / per,
    "executor.cpu_s" -> c.cpuNs / 1e9 / per,
    "executor.gc_s" -> c.gcMs / 1000.0 / per,
    "executor.tasks" -> c.tasks / per,
    "driver.jobs" -> c.jobs / per,
    "plans.planning_s" -> c.planningMs / 1000.0 / per)

  private def runStream(s: StreamIngest, o: Opts, spark: SparkSession, setupDone: () => Unit) = {
    val n = s.filesFor(o.seconds)
    val interval = s.interval
    val details = mutable.LinkedHashMap[String, Any]("files" -> n, "interval_s" -> interval)
    var failed = 0
    def guarded[A](f: => A): Option[A] =
      try Some(f) catch { case e: Throwable => log(s"stream failed: $e"); e.printStackTrace(); None }
    val metrics: Map[String, Double] = if (!o.trace) {
      guarded(s.stream(0, n, warm = true, collect = true, countIndexFiles = false,
          onWarm = setupDone)) match {
        case Some(r) =>
          s.filesDone = n
          val (m, pct) = e2e(median(r.service), s.rowsPerOp, r.latency)
          details("batch_latency_tail_percentile") = pct
          details("batch_latencies_s") = r.latency
          details("service_s") = r.service
          m
        case None => failed = n; Map.empty
      }
    } else {
      // first half untraced, second half (same index, next files) traced:
      // the difference of their service times is the tracing overhead
      val half = n / 2
      val a = guarded(s.stream(0, half, warm = true, collect = true, countIndexFiles = false,
        onWarm = setupDone))
      val t = new LiveTracer(spark, o.run)
      val b = a.flatMap(_ => guarded(t.span("stream")(
        s.stream(half, n - half, warm = false, collect = true, countIndexFiles = true))))
      t.drain()
      (a, b) match {
        case (Some(ra), Some(rb)) =>
          val root = t.spans.last
          s.filesDone = n
          val m = mutable.HashMap.empty[String, Double]
          val nb = rb.service.size.toDouble
          def dur(keys: String*): Double =
            median(rb.durations.map(d => keys.map(d.getOrElse(_, 0.0)).sum))
          m("streaming.trigger_s") = dur("triggerExecution")
          m("streaming.add_batch_s") = dur("addBatch")
          m("streaming.planning_s") = dur("queryPlanning")
          m("streaming.commit_s") = dur("walCommit", "commitOffsets")
          m("streaming.queue_wait_s") = median(rb.queueWait)
          m("streaming.backlog_files_max") = math.max(ra.backlogMax, rb.backlogMax).toDouble
          m("streaming.generator_late_s") = (ra.late ++ rb.late).max
          m("sources.index_files_max") = rb.indexFilesMax.toDouble
          val c = t.countersOf(t.subtree(root), root.startMs, root.endMs)
          m ++= counterMetrics(c, nb)
          m("driver.gap_s") = rb.windowsMs.map { case (lo, hi) =>
            (hi - lo - Layers.unionMs(c.jobIntervals.toSeq, lo, hi)) / 1000.0 }.sum / nb
          m ++= t.span("probe.kernels")(KernelProbe.run(spark, o.seedDir))
          finishTrace(t, o, m, median(rb.service), median(ra.service))
          withDefaults(m)
        case _ =>
          failed = n
          Map.empty
      }
    }
    if (failed == 0) s.finish()
    (n, failed, metrics, details)
  }
}
