package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SparseRel
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.queries.Tables
import graft.sources.{Npz, SparseIO}
import graft.streaming.EventStream

/** What one closed-loop pass reports: whether its outputs checked out,
  * the latencies of its client-visible operations, and per-pass counts
  * for the per-layer metrics. */
final case class PassOut(ok: Boolean, opLatencies: Seq[Double],
    extras: Map[String, Double] = Map.empty)

/** One workload over its generated inputs. `data` is the input directory
  * made by gen.py (with expect.json), `work` a scratch directory and
  * `check` where the run leaves its outputs for the checks in run.py. */
abstract class Workload(val spark: SparkSession, val data: String,
    val work: String, val check: String, val params: JsonNode,
    val expect: JsonNode) {
  /** Untimed passes before the first timed one (part of set-up). */
  def warmups: Int = Option(params.get("warmup_passes")).map(_.asInt).getOrElse(0)
  /** Input rows per client-visible operation (rows_per_s numerator). */
  def rowsPerOp: Double
  def setup(): Unit = ()
  def pass(t: Tracer): PassOut
  /** After the timed loop: leave outputs for run.py's checks. */
  def finish(): Unit = ()
  /** Traced run only: counts measured outside the passes. */
  def probes(t: LiveTracer): Map[String, Double] = Map.empty

  protected def p(name: String): JsonNode = params.get(name)
  protected def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
  protected def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** The paper's own traffic: one-hot scans, group-by-sum, aligned add and
  * join, then the parquet and npz round trips. */
final class SparseEtl(spark: SparkSession, data: String, work: String,
    check: String, params: JsonNode, expect: JsonNode)
    extends Workload(spark, data, work, check, params, expect) {
  def rowsPerOp: Double = expect.get("events").asDouble
  private val out = s"$work/sparse_out"
  private val npzPath = s"$work/slice.npz"
  private val bound = expect.get("npz_user_bound").asLong
  private val inputBytes = expect.get("input_bytes").asDouble

  def pass(t: Tracer): PassOut = {
    val ((cells, npzCells), wall) = timed {
      val ev = t.stage("sources.parquet_read", Tables.events(spark, data)
        .select(col("event_id"), col("user_id"), col("event_type"), col("props")))
      def onehot(df: DataFrame, field: String): SparseRel =
        t.stageRel("core.scan_events", SparseRel.scanEvents(df, field, Seq("user_id")))
      def gsum(r: SparseRel): SparseRel = t.stageRel("core.groupby_sum", r.groupbySum())
      val even = gsum(onehot(ev.filter(col("event_id") % 2 === 0), "event_type"))
      val odd = gsum(onehot(ev.filter(col("event_id") % 2 === 1), "event_type"))
      val types = t.stageRel("core.add", even.add(odd))
      val props = gsum(onehot(ev, "props"))
      val joined = t.stageRel("core.join_axis1", types.joinAxis1(props))
      t.span("sources.parquet_write")(SparseIO.write(joined, out))
      val back = SparseIO.read(spark, out)
      val cells = t.span("sources.parquet_read")(t.force(back.df))
      t.span("sources.npz_write")(Npz.writeNpz(back.filterRows(col("user_id") < bound), npzPath))
      val npzCells = t.span("sources.npz_read")(t.force(Npz.readNpz(spark, npzPath, "user_id").df))
      (cells, npzCells)
    }
    val ok = cells == expect.get("cells").asLong && npzCells == expect.get("npz_cells").asLong
    if (!ok) log(s"sparse_etl: cells $cells npz $npzCells, expected ${expect.get("cells")} ${expect.get("npz_cells")}")
    val written = Workload.filesUnder(out) :+ new File(npzPath)
    PassOut(ok, Seq(wall), Map(
      "sources.files_written" -> written.size.toDouble,
      "sources.bytes_written_per_input_byte" -> written.map(_.length).sum / inputBytes,
      "core.cells_out_per_in" -> cells / rowsPerOp))
  }
  override def finish(): Unit =
    Workload.copyTree(new File(out, "data"), new File(check, "sparse_out"))
}

/** Batch near-dup pipeline over token-bijection replicas. */
final class DedupBatch(spark: SparkSession, data: String, work: String,
    check: String, params: JsonNode, expect: JsonNode)
    extends Workload(spark, data, work, check, params, expect) {
  def rowsPerOp: Double = expect.get("docs").asDouble
  private val k = p("minhash_k").asInt
  private val bands = p("bands").asInt
  private val shingleN = p("shingle_n").asInt
  private val threshold = p("threshold").asDouble
  private val planted = p("planted_threshold").asDouble
  private lazy val docs = spark.read.parquet(s"$data/docs")
  private var expected: Map[(Long, Long), Double] = Map.empty
  private var overlapRows = -1L
  private var lastTop: DataFrame = _

  override def setup(): Unit = {
    expected = spark.read.parquet(s"$data/expected_pairs.parquet").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
  }

  def pass(t: Tracer): PassOut = {
    val ((exactGroups, pairs, survivors, topRows, overlapPairs), wall) = timed {
      val d = t.stage("sources.parquet_read", docs)
      val exact = t.span("operators.exact_duplicates")(
        t.force(Dedup.exactDuplicates(d, "doc_id", "text")))
      val pairsDf = t.span("operators.near_duplicates")(
        Dedup.nearDuplicates(d, "doc_id", "text", shingleN, k, bands, threshold)
          .localCheckpoint())
      val pairs = pairsDf.collect().map(r => (r.getLong(0), r.getLong(1)))
      val survivors = t.span("operators.union_find")(
        t.force(Dedup.dedupSurvivors(d, "doc_id", pairsDf)))
      val ov = t.stage("operators.overlap_pairs", TextAnalysis.overlapPairs(d, "doc_id", "text",
        maxDocFreq = p("overlap_max_doc_freq").asInt))
      val top = TextAnalysis.overlapTopKOf(ov, p("overlap_k").asInt)
      val topRows = t.span("operators.overlap_topk")(t.force(top))
      lastTop = top
      (exact, pairs, survivors, topRows, if (t.on) ov.count() else 0L)
    }
    val found = pairs.toSet
    val extra = pairs.filterNot(expected.contains)
    val missedPlanted = expected.count { case (pr, j) => j >= planted && !found.contains(pr) }
    val wantSurvivors = rowsPerOp.toLong - Workload.removedByClusters(pairs)
    if (overlapRows < 0) overlapRows = topRows
    val ok = extra.isEmpty && missedPlanted == 0 &&
      exactGroups == expect.get("exact_groups").asLong && survivors == wantSurvivors &&
      topRows == overlapRows
    if (!ok) log(s"dedup_batch: extra ${extra.length} missedPlanted $missedPlanted " +
      s"exact $exactGroups survivors $survivors/$wantSurvivors top $topRows/$overlapRows")
    PassOut(ok, Seq(wall), Map("operators.verified_pairs" -> pairs.length.toDouble,
      "operators.overlap_pairs" -> overlapPairs.toDouble))
  }

  override def probes(t: LiveTracer): Map[String, Double] = {
    val cands = t.span("probe.lsh_candidates")(
      Dedup.lshCandidates(docs, "doc_id", "text", shingleN, k, bands).count())
    Map("operators.lsh_candidates" -> cands.toDouble)
  }

  override def finish(): Unit =
    lastTop.write.mode("overwrite").parquet(s"$check/overlap_topk")
}

/** IVF-PQ build and search over perturbed embedding replicas. */
final class VectorSearch(spark: SparkSession, data: String, work: String,
    check: String, params: JsonNode, expect: JsonNode)
    extends Workload(spark, data, work, check, params, expect) {
  def rowsPerOp: Double = expect.get("queries").asDouble
  private val k = p("k").asInt
  private val nlist = p("nlist").asInt
  private val nprobe = p("nprobe").asInt
  private val m = p("m").asInt
  private val ksub = p("ksub").asInt
  private val sample = p("sample_size").asInt
  private val idx = s"$work/ivfpq_index"
  private lazy val corpus0 = spark.read.parquet(s"$data/corpus")
  private lazy val queries = spark.read.parquet(s"$data/queries.parquet").localCheckpoint()

  def pass(t: Tracer): PassOut = {
    val corpus = t.stage("sources.parquet_read", corpus0)
    val (_, build) = timed {
      val cents = t.span("operators.ivf_train")(
        Similarity.trainIvfCentroids(corpus, "vec_id", "embedding", nlist, sample))
      val books = t.span("operators.pq_train")(
        Similarity.trainIvfPqCodebooks(corpus, "vec_id", "embedding", cents, m, ksub, sample))
      t.span("sources.parquet_write")(Similarity.writeIvfPqIndex(corpus, "vec_id",
        "embedding", idx, nlist, m, ksub, sample, cents, books))
    }
    val (rows, query) = timed(t.span("operators.ivf_pq_search")(t.force(
      Similarity.ivfPqTopKFromIndex(spark, idx, corpus, "vec_id", "embedding", queries, k, nprobe))))
    val ok = rows == rowsPerOp.toLong * k
    if (!ok) log(s"vector_search: $rows rows for $rowsPerOp queries")
    PassOut(ok, Seq(query), Map("vector.build_s" -> build,
      "sources.files_written" -> Workload.filesUnder(idx).size.toDouble))
  }

  override def probes(t: LiveTracer): Map[String, Double] = t.span("probe.candidates") {
    val cents = spark.read.parquet(s"$idx/centroids").orderBy("cell").collect()
      .map(_.getSeq[Double](1).toArray)
    val cellSizes = spark.read.parquet(s"$idx/codes").groupBy("cell").count()
      .select(col("cell").cast("int").as("cell"), col("count"))
    val probed = queries.select(col("qid"),
      explode(graft.functions.IvfCells.cells(col("qv"), cents, nprobe)).as("cell"))
    val cands = probed.join(cellSizes, "cell").agg(sum("count")).head().getLong(0)
    Map("operators.probe_candidates_per_query" -> cands.toDouble / rowsPerOp)
  }

  override def finish(): Unit = {
    Similarity.ivfPqTopKFromIndex(spark, idx, corpus0, "vec_id", "embedding", queries, k, nprobe)
      .write.mode("overwrite").parquet(s"$check/ann_topk")
    // the exact answer, once per seed, outside timing
    val exact = s"$data/exact_topk"
    if (!new File(exact, "_SUCCESS").exists())
      Similarity.bruteForceTopK(corpus0, "vec_id", "embedding", queries, k)
        .write.mode("overwrite").parquet(exact)
  }
}

/** Open-loop streaming ingest: a generator thread publishes one batch file
  * per interval into the source directory of EventStream.nearDupIngest. */
final class StreamIngest(spark: SparkSession, data: String, work: String,
    check: String, params: JsonNode, expect: JsonNode)
    extends Workload(spark, data, work, check, params, expect) {
  def rowsPerOp: Double = expect.get("batch_docs").asDouble
  def pass(t: Tracer): PassOut = throw new UnsupportedOperationException("open loop")
  val interval: Double = p("interval_s").asDouble
  private val threshold = p("threshold").asDouble
  private val maxIndexFiles = p("max_index_files").asInt
  private val nFilesAll = expect.get("batch_files").asInt
  val index = s"$work/stream_index"
  private var queryNo = 0
  val got = mutable.ArrayBuffer.empty[(Long, Long, Double)]
  var filesDone = 0

  private def file(i: Int) = Paths.get(data, "batches", f"b$i%05d.parquet")

  /** Copy batch file `i` into `src` under a hidden name, then rename it
    * into view, so the file source never lists a partial file. */
  private def publish(src: String, i: Int): Unit = {
    val tmp = Paths.get(src, f".tmp-$i%05d")
    Files.copy(file(i), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(src, f"b$i%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** A thread that publishes `file(from + i)` at t0 + i·interval, recording
    * due and publish times (System.nanoTime) in `due` and `pub`. */
  private def publisher(src: String, from: Int, n: Int, due: Array[Long],
      pub: Array[Long]): Thread = {
    val th = new Thread(() => {
      val t0 = System.nanoTime()
      (0 until n).foreach { i =>
        val d = t0 + (i * interval * 1e9).toLong
        var now = System.nanoTime()
        while (now < d) { Thread.sleep(math.max(0L, (d - now) / 1000000L)); now = System.nanoTime() }
        publish(src, from + i)
        due(i) = d
        pub(i) = System.nanoTime()
      }
    }, "perfbench-publisher")
    th.setDaemon(true)
    th
  }

  private def progressOf(q: org.apache.spark.sql.streaming.StreamingQuery) =
    q.recentProgress.filter(_.numInputRows > 0)
      .groupBy(_.batchId).map { case (b, ps) => b.toInt -> ps.head }

  /** Per timed micro-batch figures of one streaming query. */
  final case class StreamOut(latency: Seq[Double], service: Seq[Double],
      queueWait: Seq[Double], backlogMax: Int, late: Seq[Double],
      durations: Seq[Map[String, Double]], indexFilesMax: Int,
      windowsMs: Seq[(Long, Long)])

  /** The warm-up files: the last files of the schedule. They are ingested
    * before the timed files, so for the pair check they join the initial
    * index as one batch. */
  private val warmFrom = nFilesAll - p("warmup_files").asInt

  /** One streaming query over the index. With `warm`, it first ingests the
    * warm-up files, published at once, and calls `onWarm` when they are
    * done; then it publishes files [from, from + n) on schedule. */
  def stream(from: Int, n: Int, warm: Boolean, collect: Boolean,
      countIndexFiles: Boolean, onWarm: () => Unit = () => ()): StreamOut = {
    queryNo += 1
    val src = s"$work/stream_src_$queryNo"
    new File(src).mkdirs()
    val w = if (warm) nFilesAll - warmFrom else 0
    val done = new Array[Long](w + n)
    val due = new Array[Long](n)
    val pub = new Array[Long](n)
    var indexFilesMax = 0
    val nanoOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val q = EventStream.nearDupIngest(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(src),
      "doc_id", "text", index, threshold, admitMatched = true,
      maxIndexFiles = maxIndexFiles) { (pairs, batchId) =>
      val rows = pairs.collect()
      if (collect && batchId >= w) got.synchronized {
        rows.foreach { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          got += ((math.min(a, b), math.max(a, b), r.getDouble(2)))
        }
      }
      if (countIndexFiles)
        indexFilesMax = math.max(indexFilesMax,
          Workload.filesUnder(index).count(_.getName.endsWith(".parquet")))
      done(batchId.toInt) = System.nanoTime()
    }
    val deadline = System.nanoTime() + 150L * 1000000000L
    def await(k: Int): Unit = {
      while (done.take(k).exists(_ == 0L) && System.nanoTime() < deadline && q.exception.isEmpty)
        Thread.sleep(5)
      q.exception.foreach(e => throw e)
      require(!done.take(k).exists(_ == 0L), s"stream: ${done.take(k).count(_ == 0L)} batches not done")
    }
    try {
      (warmFrom until warmFrom + w).foreach(publish(src, _))
      await(w)
      onWarm()
      val gen = publisher(src, from, n, due, pub)
      gen.start()
      gen.join()
      await(w + n)
      // a batch's progress event is posted after its foreachBatch returns
      while (progressOf(q).size < w + n && System.nanoTime() < deadline) Thread.sleep(5)
    } finally q.stop()
    val prog = progressOf(q)
    require(prog.size == w + n, s"stream: progress for ${prog.size} of ${w + n} batches")
    val startNs = (0 until n).map(i =>
      java.time.Instant.parse(prog(w + i).timestamp).toEpochMilli * 1000000L - nanoOffset)
    val end = (0 until n).map(i => done(w + i))
    // files published but not yet taken when batch i started
    val backlog = (0 until n).map(i => math.max(0, pub.count(_ <= startNs(i)) - i - 1))
    StreamOut(
      latency = (0 until n).map(i => (end(i) - due(i)) / 1e9),
      service = (0 until n).map(i => (end(i) - startNs(i)) / 1e9),
      queueWait = (0 until n).map(i => math.max(0L, startNs(i) - due(i)) / 1e9),
      backlogMax = backlog.max,
      late = (0 until n).map(i => (pub(i) - due(i)) / 1e9),
      durations = (0 until n).map { i =>
        import scala.jdk.CollectionConverters._
        prog(w + i).durationMs.asScala.map { case (kk, v) => kk -> v.toDouble / 1000.0 }.toMap
      },
      indexFilesMax = indexFilesMax,
      windowsMs = (0 until n).map(i =>
        ((startNs(i) + nanoOffset) / 1000000L, (end(i) + nanoOffset) / 1000000L)))
  }

  override def setup(): Unit =
    Dedup.writeNearDupIndex(spark.read.parquet(s"$data/initial.parquet"), "doc_id", "text",
      index, shingleN = 3, k = 128, bands = 32)

  /** Files that fit the measured time at the offered rate. */
  def filesFor(seconds: Double): Int =
    math.min(warmFrom, math.max(p("min_files").asInt, (seconds / interval).round.toInt))

  override def finish(): Unit = {
    new File(check).mkdirs()
    val w = new java.io.PrintWriter(new File(check, "stream_pairs.csv"))
    try got.foreach { case (a, b, j) => w.println(s"$a,$b,$j") } finally w.close()
    val f = new java.io.PrintWriter(new File(check, "stream_files_done.txt"))
    try f.println(s"$filesDone $warmFrom") finally f.close()
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, data: String, work: String,
      check: String, params: JsonNode, expect: JsonNode): Workload = name match {
    case "sparse_etl" => new SparseEtl(spark, data, work, check, params, expect)
    case "dedup_batch" => new DedupBatch(spark, data, work, check, params, expect)
    case "stream_ingest" => new StreamIngest(spark, data, work, check, params, expect)
    case "vector_search" => new VectorSearch(spark, data, work, check, params, expect)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def filesUnder(path: String): Seq[File] = {
    val root = new File(path)
    if (!root.exists()) Nil
    else if (root.isFile) Seq(root)
    else Option(root.listFiles()).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) filesUnder(f.getPath)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f))
  }

  def copyTree(from: File, to: File): Unit = {
    to.mkdirs()
    filesUnder(from.getPath).foreach { f =>
      val rel = from.toPath.relativize(f.toPath)
      val dst = to.toPath.resolve(rel)
      Files.createDirectories(dst.getParent)
      Files.copy(f.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Documents a keep-min-per-cluster dedup removes for `pairs`. */
  def removedByClusters(pairs: Seq[(Long, Long)]): Long = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
    nodes.size - nodes.map(find).distinct.size
  }
}
