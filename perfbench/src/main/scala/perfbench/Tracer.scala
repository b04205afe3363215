package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.Force
import graft.core.SparseRel

/** A timed region of the traced run. Times: `startNs`/`endNs` from
  * System.nanoTime for walls, `startMs`/`endMs` epoch millis to line up
  * with listener job times. */
final case class Span(id: Long, name: String, parent: Long, run: String,
    startNs: Long, startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L) {
  def wallS: Double = (endNs - startNs) / 1e9
  def layer: String = name.takeWhile(_ != '.')
}

/** Spark counters attributed to one span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var inputBytes = 0L
  var planningMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    fetchWaitMs += o.fetchWaitMs; spill += o.spill; inputBytes += o.inputBytes
    planningMs += o.planningMs
    jobIntervals ++= o.jobIntervals
  }
}

/** The benchmark's view of tracing. Untraced passes use [[Tracer.Off]]:
  * spans only run their body and `stage` returns its input, so the
  * untraced pass is the plain pipeline. */
trait Tracer {
  def on: Boolean
  def span[A](name: String)(f: => A): A
  /** Traced: materialize `df` inside a span of its own (persist + count),
    * so the next layer's span times only its own work. */
  def stage(name: String, df: DataFrame): DataFrame
  def stageRel(name: String, rel: SparseRel): SparseRel = rel.copy(df = stage(name, rel.df))
  /** Force a complete result (graft.Force.count); traced, also records the
    * Dataset's planning phases against the current span. */
  def force(df: DataFrame): Long
  /** Drop what `stage` persisted. */
  def release(): Unit = ()
}

object Tracer {
  /** Local property carrying the current span id to the listener. Spark
    * copies local properties into every job a thread starts and into
    * threads it creates, so a job started from a pool thread created
    * earlier carries none and is counted as unattributed. */
  val Key = "perfbench.span"

  object Off extends Tracer {
    def on = false
    def span[A](name: String)(f: => A): A = f
    def stage(name: String, df: DataFrame): DataFrame = df
    def force(df: DataFrame): Long = Force.count(df)
  }
}

final class LiveTracer(spark: SparkSession, run: String) extends Tracer {
  def on = true
  private val sc = spark.sparkContext
  private var nextId = 0L
  private val stack = mutable.Stack[Long]()
  val spans = mutable.ArrayBuffer.empty[Span]
  private val persisted = mutable.ArrayBuffer.empty[DataFrame]
  private val counters = mutable.HashMap.empty[Long, Counters]
  private val jobSpan = mutable.HashMap.empty[Int, Long]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  /** (phase start epoch ms, planning ms) of actions reported by the
    * query-execution listener, attributed to spans by time afterwards. */
  private val actionPlanning = mutable.ArrayBuffer.empty[(Long, Long)]

  private def ctr(id: Long): Counters = counters.getOrElseUpdate(id, new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
        .map(_.toLong).getOrElse(-1L)
      jobSpan(e.jobId) = id
      jobStartMs(e.jobId) = e.time
      e.stageIds.foreach(stageSpan(_) = id)
      ctr(id).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val id = jobSpan.getOrElse(e.jobId, -1L)
      ctr(id).jobIntervals += ((jobStartMs.getOrElse(e.jobId, e.time), e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val c = ctr(stageSpan.getOrElse(e.stageId, -1L))
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      LiveTracer.this.synchronized {
        val ph = qe.tracker.phases
        if (ph.nonEmpty)
          actionPlanning += ((ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum))
      }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def currentId: Long = if (stack.isEmpty) -1L else stack.top

  def span[A](name: String)(f: => A): A = {
    val s = synchronized {
      nextId += 1
      Span(nextId, name, currentId, run, System.nanoTime(), System.currentTimeMillis())
    }
    stack.push(s.id)
    sc.setLocalProperty(Tracer.Key, s.id.toString)
    try f
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack.pop()
      sc.setLocalProperty(Tracer.Key, if (stack.isEmpty) null else stack.top.toString)
      synchronized { spans += s }
    }
  }

  def stage(name: String, df: DataFrame): DataFrame = span(name) {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    persisted += p
    p
  }

  def force(df: DataFrame): Long = {
    val n = Force.count(df)
    val ph = df.queryExecution.tracker.phases
    synchronized { ctr(currentId).planningMs += ph.values.map(_.durationMs).sum }
    n
  }

  override def release(): Unit = {
    persisted.foreach(_.unpersist(blocking = true))
    persisted.clear()
  }

  /** Wait for every listener event posted so far. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  def stop(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Span ids of `root` and all its descendants. */
  def subtree(root: Span): Set[Long] = synchronized {
    val kids = spans.groupBy(_.parent)
    def go(id: Long): Seq[Long] = id +: kids.getOrElse(id, Nil).toSeq.flatMap(s => go(s.id))
    go(root.id).toSet
  }

  /** Counters summed over `ids`, with action planning attributed to the
    * window [fromMs, toMs]. */
  def countersOf(ids: Set[Long], fromMs: Long, toMs: Long): Counters = synchronized {
    val c = new Counters
    ids.foreach(id => counters.get(id).foreach(c.add))
    c.planningMs += actionPlanning.collect {
      case (t, ms) if t >= fromMs && t <= toMs => ms
    }.sum
    c
  }

  /** Jobs with and without a span, over the whole run. */
  def jobAttribution: (Long, Long) = synchronized {
    val un = counters.get(-1L).map(_.jobs).getOrElse(0L)
    (counters.values.map(_.jobs).sum - un, un)
  }

  def spansJson: Seq[Map[String, Any]] = synchronized {
    spans.sortBy(_.startNs).map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "run" -> s.run, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "wall_s" -> s.wallS)).toSeq
  }
}

object Layers {
  /** Wall seconds of the union of `intervals` (epoch ms) clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
