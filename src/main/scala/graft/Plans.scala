package graft

/** Dump `.explain("formatted")` for declared queries to files — the
  * optimization rounds' plan-evidence tool (plans/r{N}/<query>_{tag}.txt).
  *
  * Usage: sbt "runMain graft.Plans <outDir> <tag> [query1,query2,...]"
  * With no query list, dumps every declared query. Env:
  * SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Plans <outDir> <tag> [names]")
    val outDir = java.nio.file.Paths.get(args(0))
    val tag = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder(defaultCpus = 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(outDir)
    val queries = SparkEntry.queries
    val names =
      if (args.length > 2) args(2).split(",").toSeq.filter(queries.contains)
      else queries.keys.toSeq.sorted
    names.foreach { name =>
      try {
        val df = queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(outDir.resolve(s"${name}_$tag.txt"),
          plan.getBytes("UTF-8"))
        System.err.println(s"[plans] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name FAILED: ${e.getMessage}")
        java.nio.file.Files.write(outDir.resolve(s"${name}_$tag.txt"),
          s"PLAN CAPTURE FAILED: ${e.getMessage}\n".getBytes("UTF-8"))
      }
    }
    spark.stop()
  }
}
