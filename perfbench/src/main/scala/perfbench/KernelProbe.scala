package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Force
import graft.functions.{CappedListAgg, HashExprs, IvfCells, PairExprs, Pq, Quantize}
import graft.operators.Similarity

/** ns/row of the graft.functions kernels over one cached in-memory batch,
  * each minus an identity projection of the kernel's own input column
  * over the same batch. Traced run only. */
object KernelProbe {
  private val Reps = 3

  private def secs(df: => DataFrame): Double = {
    val xs = (1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      Force.count(df)
      (System.nanoTime() - t0) / 1e9
    }.sorted
    xs(Reps / 2)
  }

  def run(spark: SparkSession, seedDir: String): Map[String, Double] = {
    val text = spark.read.parquet(s"$seedDir/documents.parquet").select(col("text"))
      .crossJoin(spark.range(4).toDF("rep"))
      .select(monotonically_increasing_id().as("id"), col("text"))
      .withColumn("sh", HashExprs.shingleHashes(col("text"), 3))
      .withColumn("ids", sequence(col("id"), col("id") + 15))
      .withColumn("bucket", col("id") % 4000)
      .persist(StorageLevel.MEMORY_ONLY)
    val dim = 64
    val cents = Similarity.hyperplanes(64, dim)
    val flat = Similarity.hyperplanes(8 * 256, dim / 8, seed = 7L)
    val books = Array.tabulate(8)(j => flat.slice(j * 256, (j + 1) * 256))
    val vec = spark.read.parquet(s"$seedDir/embeddings.parquet")
      .select(Similarity.asDouble(col("embedding")).as("v"))
      .crossJoin(spark.range(5).toDF("rep"))
      .select(monotonically_increasing_id().as("id"), col("v"))
      .withColumn("codes", Pq.codes(col("v"), books))
      .withColumn("q8", Quantize.int8(col("v")))
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      val nText = text.count().toDouble
      val nVec = vec.count().toDouble
      val q = vec.select(col("v"), col("q8")).head()
      val table = spark.range(1).select(Pq.adcTable(lit(q.getSeq[Double](0).toArray), books))
        .head().getSeq[Double](0).toArray
      val identity = scala.collection.mutable.HashMap.empty[String, Double]
      def ns(batch: DataFrame, n: Double, input: String, kernel: Column): Double =
        (secs(batch.select(kernel)) -
          identity.getOrElseUpdate(input, secs(batch.select(col(input))))) / n * 1e9
      val kernels = Map(
        "shingle_hashes" -> ns(text, nText, "text", HashExprs.shingleHashes(col("text"), 3)),
        "minhash_band_keys" -> ns(text, nText, "sh", HashExprs.minhashBandKeys(col("sh"), 128, 32)),
        "winnow_hashes" -> ns(text, nText, "text", HashExprs.winnowHashes(col("text"), 16, 7)),
        "ordered_pairs" -> ns(text, nText, "ids", PairExprs.orderedPairs(col("ids"))),
        "capped_list" -> (secs(text.groupBy(col("bucket"))
            .agg(CappedListAgg.capped_list(1001)(col("id")))) -
          secs(text.groupBy(col("bucket")).agg(count(lit(1))))) / nText * 1e9,
        "pq_codes" -> ns(vec, nVec, "v", Pq.codes(col("v"), books)),
        "pq_adc_score" -> ns(vec, nVec, "codes", Pq.adcScore(col("codes"), lit(table))),
        "int8_cosine" -> ns(vec, nVec, "q8", Quantize.cosine(col("q8"), lit(q.getAs[Array[Byte]](1)))),
        "ivf_cells" -> ns(vec, nVec, "v", IvfCells.cells(col("v"), cents, 16)))
      val baseline = identity("text") / nText * 1e9
      kernels.map { case (k, v) => s"functions.${k}_ns_per_row" -> v } +
        ("functions.baseline_ns_per_row" -> baseline)
    } finally {
      text.unpersist(blocking = true)
      vec.unpersist(blocking = true)
    }
  }
}
