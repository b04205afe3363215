package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Optimization-round measurement harness (guide §1): run ONE declared
  * query with a job-level listener and print every Spark job's wall
  * time, so per-micro-batch / per-leg overhead is attributable instead
  * of guessed at. Not part of the bench contract — a developer tool.
  *
  * Usage: sbt "runMain graft.Profile <query> [reps]"
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <queryName> [reps]")
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val builder = Session.builder(defaultCpus = 32)
    // experiment hook: SPARK_GRAFT_EXTRA_CONF="k=v;k=v"
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val q = SparkEntry.queries(name)

    // warmup on the smallest sibling SF (JIT/codegen), like Bench
    val warmDir = {
      val p = java.nio.file.Paths.get(sfDir)
      Option(p.getParent).map(_.resolve("sf0.001"))
        .filter(s => java.nio.file.Files.isDirectory(s) && s.toString != p.toString)
        .map(_.toString).getOrElse(sfDir)
    }
    try Force.count(q(spark, warmDir))
    catch { case e: Throwable => System.err.println(s"[profile] warmup failed: ${e.getMessage}") }

    final case class Job(id: Int, desc: String, start: Long,
        var end: Long = -1L, var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = e.stageInfos.map(_.name.takeWhile(_ != '\n').take(60))
          .mkString(" | ")
        val tasks = e.stageInfos.map(_.numTasks).sum
        val j = Job(e.jobId, desc.take(100), System.nanoTime()); j.tasks = tasks
        jobs.put(e.jobId, j); order.add(e.jobId); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = System.nanoTime())
      }
    }

    (1 to reps).foreach { r =>
      jobs.clear(); order.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val n = Force.count(q(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(200) // let listener drain
      import scala.jdk.CollectionConverters._
      val js = order.asScala.flatMap(id => Option(jobs.get(id))).toSeq
      val totalJob = js.collect { case j if j.end > 0 => (j.end - j.start) / 1e9 }.sum
      println(f"== $name rep $r: wall=$wall%.3f s, rows=$n, jobs=${js.size}, sum(job)=$totalJob%.3f s")
      var prevEnd = t0
      js.foreach { j =>
        val d = if (j.end > 0) (j.end - j.start) / 1e9 else Double.NaN
        val gap = (j.start - prevEnd) / 1e9
        if (j.end > 0) prevEnd = math.max(prevEnd, j.end)
        println(f"  job ${j.id}%4d ${d}%8.3f s gap=$gap%7.3f tasks=${j.tasks}%4d  ${j.desc}")
      }
    }
    spark.stop()
  }
}
