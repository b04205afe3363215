package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{AlignHow, SparseRel}
import graft.operators.{Dedup, ImportanceSampling, LanguageModel, Multimodal,
  Sampling, Similarity, TextAnalysis}
import graft.queries.Tables

/** Closed forms under replication: the fixture is copied `reps` times
  * in-process and every operator's output must equal an expression in
  * `reps` and the 1× fixture — exactly, or within a stated floor. Three
  * replication schemes, each chosen so the closed form is exact:
  *
  *  - id shift: replica r adds r·[[Offset]] to every id and keeps the
  *    payload, so COO cells, groups and rows scale ×reps, replicas'
  *    id ranges are disjoint, and identical vectors keep every cell.
  *  - `docs_bij`: replica r also prefixes every whitespace token with
  *    `r<R>x`, a bijection on tokens and hence on word shingles —
  *    within-replica Jaccard is unchanged and cross-replica shingle
  *    sets are disjoint, so pair sets scale exactly ×reps.
  *  - `docs_exact`: id shift on the documents, so every k-window of
  *    every doc is duplicated across replicas.
  *
  * Relations whose plan shape is asserted (column pruning, pushed
  * filters, dynamic partition pruning) are written to parquet and read
  * back cold, so the scan in the plan is a real file scan. */
class ReplicationSpec extends SparkSpecBase {

  private val Offset = 10000001L
  private lazy val dir = java.nio.file.Files.createTempDirectory(
    "graft_replication").toFile.getAbsolutePath

  override def afterAll(): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    super.afterAll()
  }

  private lazy val events0 = Tables.events(spark, sf)
  private lazy val docs0 = Tables.documents(spark, sf)
  private lazy val emb0 = Tables.embeddings(spark, sf)

  /** `reps` copies of `df`, replica r built by `copy(r)`. The offset
    * must exceed every fixture id, or two replicas' shifted ids merge
    * into one logical row and every closed form below breaks. */
  private def replicate(df: DataFrame, idCols: Seq[String], reps: Int)(
      copy: Int => DataFrame): DataFrame = {
    idCols.foreach { c =>
      val maxId = df.agg(max(col(c))).head.getLong(0)
      assert(maxId < Offset, s"replica offset $Offset collides with $c=$maxId")
    }
    (0 until reps).map(copy).reduce(_ unionByName _)
  }

  private def shifted(c: String, r: Int) = (col(c) + lit(r * Offset)).as(c)

  private def onDisk(name: String, df: DataFrame): DataFrame = {
    df.write.mode("overwrite").parquet(s"$dir/$name")
    spark.read.parquet(s"$dir/$name")
  }

  private def eventsShifted(reps: Int): DataFrame =
    replicate(events0, Seq("event_id", "user_id"), reps)(r =>
      events0.select(shifted("event_id", r), col("ts"), shifted("user_id", r),
        col("event_type"), col("value"), col("props")))

  private def docsExact(reps: Int): DataFrame =
    replicate(docs0, Seq("doc_id"), reps)(r =>
      docs0.select(shifted("doc_id", r), col("text"), col("lang"),
        col("source"), col("n_chars")))

  private def docsBij(reps: Int): DataFrame =
    replicate(docs0, Seq("doc_id"), reps)(r =>
      docs0.select(shifted("doc_id", r),
        regexp_replace(col("text"), "(\\S+)", s"r${r}x" + "$1").as("text")))

  private def embShifted(reps: Int): DataFrame =
    replicate(emb0, Seq("vec_id"), reps)(r =>
      emb0.select(shifted("vec_id", r), col("embedding"), col("label")))

  private def readSchema(df: DataFrame): String =
    "ReadSchema: [^\\n]*".r
      .findFirstIn(df.queryExecution.executedPlan.toString).getOrElse("")

  private def tokenTotal(long: Boolean, k: Int): Long = {
    val n = size(split(col("text"), " ")).cast("long")
    docs0.select(n.as("n")).filter(if (long) col("n") >= k else col("n") < k)
      .agg(coalesce(sum(col("n")), lit(0L))).head.getLong(0)
  }

  // ---- the COO algebra over an on-disk event log ----

  private val evReps = 6
  private lazy val eventsBig = onDisk("events", eventsShifted(evReps))
  private def scan(ev: DataFrame): SparseRel =
    SparseRel.scanEvents(ev, "event_type", Seq("user_id"),
      Some(Tables.EventTypes))

  test("event log x6 on disk: the one-hot scan prunes columns; " +
      "locRange pushes into the scan and slices whole replicas") {
    val coo = scan(eventsBig)
    val rs = readSchema(coo.df)
    assert(rs.contains("user_id") && rs.contains("event_type") &&
      !rs.contains("props") && !rs.contains("ts"),
      s"one-hot scan does not prune columns: $rs")
    // [3·Offset, 5·Offset) covers replicas 3 and 4 exactly
    val sliced = coo.locRange("user_id", lit(Offset * 3), lit(Offset * 5 - 1))
    val plan = sliced.df.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(user_id"
      .r.findFirstIn(plan).isDefined,
      s"loc range filter did not push into the parquet scan:\n$plan")
    assert(Force.count(sliced.df) === 2 * Force.count(scan(events0).df))
  }

  test("event log x6 on disk: cells, groups, self-add and dense rows " +
      "scale exactly; column sums within 1e-6 relative") {
    val (big, base) = (scan(eventsBig), scan(events0))
    assert(Force.count(big.df) === evReps * Force.count(base.df))
    val (bigG, baseG) = (big.groupbySum(), base.groupbySum())
    val groups = Force.count(bigG.df)
    assert(groups === evReps * Force.count(baseG.df))
    assert(Force.count(bigG.add(bigG, AlignHow.Inner).df) === groups)
    assert(Force.count(bigG.toDense) === evReps * Force.count(baseG.toDense))
    val bad = bigG.sumAxis0
      .select(col(SparseRel.COL), col(SparseRel.VALUE).as("big"))
      .join(baseG.sumAxis0
        .select(col(SparseRel.COL), col(SparseRel.VALUE).as("small")),
        SparseRel.COL)
      .filter(abs(col("big") - col("small") * evReps) >
        abs(col("small")) * evReps * 1e-6 + 1e-6)
      .count()
    assert(bad === 0, s"$bad column sums off the ${evReps}x closed form")
  }

  // ---- text pipelines ----

  test("docs_bij x4: nearDuplicatesChecked pairs scale exactly, lsh_ok everywhere") {
    val reps = 4
    def run(d: DataFrame): (Long, Long) = {
      val out = Dedup.nearDuplicatesChecked(d, "doc_id", "text").localCheckpoint()
      (Force.count(out.filter(col("doc_a") >= 0)),
        out.filter(!col("lsh_ok")).count())
    }
    val (baseN, baseBad) = run(docs0)
    val (bigN, bigBad) = run(docsBij(reps))
    assert(baseN > 0, "fixture should contain planted near-duplicates")
    assert(baseBad === 0 && bigBad === 0, "lsh_ok certificate violated")
    assert(bigN === reps * baseN)
  }

  test("docs_exact x6 on disk: the winnow scan reads (doc_id, text) only; " +
      "overlap_topk saturates to k x #docs(f >= 2)") {
    // exact copies share every sorted-distinct fingerprint, so a doc
    // with f >= minShared surviving fingerprints has reps-1 partners
    // tied at f — with reps-1 >= k its top-k is full; f <= 1 has none
    val (reps, k) = (6, 5)
    assert(reps - 1 >= k)
    val docs = onDisk("docs_exact", docsExact(reps))
    val rs = readSchema(TextAnalysis.fingerprintWinnow(docs, "doc_id", "text"))
    assert(rs.contains("doc_id") && rs.contains("text") &&
      !rs.contains("lang") && !rs.contains("source") && !rs.contains("n_chars"),
      s"winnow scan does not prune columns: $rs")
    val rows = Force.count(TextAnalysis.overlapTopK(docs, "doc_id", "text", k = k))
    // expected rows from one fingerprint aggregate at the operator's
    // own maxDocFreq=1000, no pair join
    val inv = TextAnalysis.fingerprintWinnow(docs, "doc_id", "text")
      .select(col("doc_id"), explode(col("fps")).as("fp"))
    val docsWith2 = inv.join(inv.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 1000).select(col("fp")), Seq("fp"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("f"))
      .filter(col("f") >= 2).count()
    assert(docsWith2 > 0)
    assert(rows === k * docsWith2)
  }

  test("docs_bij x6 at maxDocFreq=20: overlap_topk stays within the N*k cap") {
    val (reps, k) = (6, 5)
    val rows = Force.count(TextAnalysis.overlapTopK(docsBij(reps), "doc_id",
      "text", maxDocFreq = 20, k = k))
    assert(rows > 0)
    assert(rows <= reps * docs0.count() * k)
  }

  test("docs_exact x3: substring coverage and clean keep equal the 1x closed forms") {
    // every 25-window of every long doc is duplicated across replicas:
    // duplication covers exactly the long docs' tokens, and clean keeps
    // exactly the short (< 25 tokens, window-less) docs' tokens
    val (reps, k) = (3, 25)
    val docs = docsExact(reps)
    val (shortTok, longTok) = (tokenTotal(long = false, k), tokenTotal(long = true, k))
    assert(longTok > 0)
    val covered = Dedup.substringDuplication(docs, "doc_id", "text", k = k)
      .agg(sum(col("covered_tokens"))).head.getLong(0)
    assert(covered === reps * longTok)
    val st = Dedup.removeDuplicateSubstrings(docs, "doc_id", "text", k = k)
      .agg(sum(col("kept_tokens")),
        sum(when(col("n_tokens") >= k && col("kept_tokens") =!= 0L, 1L)
          .otherwise(0L))).head()
    assert(st.getLong(0) === reps * shortTok)
    assert(st.getLong(1) === 0L, "a long doc kept tokens")
  }

  test("docs_exact x4: fuzzy decontamination finds every planted replica leak") {
    // each eval doc's reps-1 shifted copies are exact (Jaccard 1) leaks
    val reps = 4
    val eval = docs0.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id").as("eval_id"), col("text"))
    val hits = Dedup.crossNgramJaccard(docsExact(reps), "doc_id", eval,
        "eval_id", "text")
      .filter(col("doc_id") =!= col("eval_id")).count()
    assert(hits >= (reps - 1) * eval.count())
  }

  // ---- media, sampling and ANN ----

  test("phash x40: the pair path's dup-density guard fires; the cluster " +
      "path keeps the 1x clusters, one survivor each, in bounded rounds") {
    // replica images are the same bytes, so every hash group holds at
    // least reps rows: identical-hash pairs >= n(reps-1)/2 > 16n
    val reps = 40
    val base = Multimodal.perceptualHash(spark,
      Multimodal.syntheticPatternMedia(docs0.select(col("doc_id"))))
      .localCheckpoint()
    val hashes = replicate(base, Seq("media_id"), reps)(r =>
      base.select(shifted("media_id", r), col("phash"))).localCheckpoint()
    val n = hashes.count()
    val idPairs = hashes.groupBy(col("phash")).agg(count(lit(1)).as("g"))
      .agg(sum(col("g") * (col("g") - 1))).head.getLong(0) / 2
    assert(idPairs > 16L * n, s"x$reps is not dup-dense: $idPairs pairs over $n")
    val e = intercept[IllegalArgumentException](
      Multimodal.phashNearDup(hashes, maxHamming = 3))
    assert(e.getMessage.contains("dup-dense"))

    def clustersOf(h: DataFrame): (Long, Long) = {
      val st = Multimodal.phashDedup(h, maxHamming = 3)
        .agg(countDistinct(col("cluster")),
          sum(when(col("is_survivor"), 1L).otherwise(0L))).head()
      (st.getLong(0), st.getLong(1))
    }
    val (clusters, survivors) = clustersOf(hashes)
    assert(survivors === clusters, "survivors != clusters")
    assert(clusters === clustersOf(base)._1)
    // the component step alone over the representative pair relation
    // phashDedup band-joins internally: pointer jumping converges in
    // O(log d) rounds and finds the operator's clusters
    val repr = hashes.groupBy(col("phash"))
      .agg(min(col("media_id")).as("media_id")).localCheckpoint()
    val (lbl, iters) = Dedup.duplicateClustersWithIters(
      Multimodal.phashNearDup(repr, maxHamming = 3)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
    assert(iters <= 10, s"pointer jumping took $iters rounds")
    val components = lbl.select(col("cluster")).distinct().count() +
      repr.join(lbl, repr.col("media_id") === lbl.col("doc"), "left_anti").count()
    assert(components === clusters)
  }

  test("docs_exact x3: unigram and bigram importance resampling keep exactly k") {
    val (reps, k) = (3, 100)
    val docs = docsExact(reps)
    val isTarget = pmod(col("doc_id"), lit(2)) === 0
    val m = ImportanceSampling.train(docs0, isTarget, "text")
    assert(Force.count(ImportanceSampling.resampleTopK(
      ImportanceSampling.logWeights(docs, "doc_id", "text", m),
      "doc_id", k = k, seed = "dsir")) === k)
    def nllOf(lm: LanguageModel.BigramLm) =
      graft.functions.LmExprs.bigramNll(col("text"), lm.vocab.toArray,
        lm.unigrams.toArray, lm.bigrams.toArray, lm.alphabetSize, lm.alpha)
    val lmR = LanguageModel.train(docs, "doc_id", "text")
    val lmT = LanguageModel.train(docs.filter(isTarget), "doc_id", "text")
    val n1 = greatest(size(split(col("text"), " ")) - 1, lit(0)).cast("double")
    val lw = docs.select(col("doc_id"),
      coalesce(n1 * (nllOf(lmR) - nllOf(lmT)), lit(0.0)).as("log_weight"))
    assert(Force.count(ImportanceSampling.resampleTopK(lw, "doc_id", k = k,
      seed = "dsir2")) === k)
  }

  test("emb x3: cluster-balanced cells equal the 1x cells; " +
      "rows = sum over cells of min(k, size1 x reps)") {
    // replicas keep every vector's direction, so each lands in its
    // original's sketch cell: the cell set cannot grow
    val (reps, k) = (3, 25)
    val planes = Sampling.sketchPlanes(3, 64, "cb")
    val uncapped = 65536
    val sizes1 = Sampling.clusterBalancedSample(emb0, "vec_id", "embedding",
        planes, k = uncapped, seed = "cbs")
      .groupBy(col("cluster")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes1.values.max < uncapped, "1x reference pass hit the sampler cap")
    val out = Sampling.clusterBalancedSample(embShifted(reps), "vec_id",
      "embedding", planes, k = k, seed = "cbs").localCheckpoint()
    assert(out.select(col("cluster")).distinct().count() === sizes1.size)
    assert(out.count() === sizes1.values.map(s => math.min(k.toLong, s * reps)).sum)
  }

  test("emb x4 on disk: the persisted IVF-PQ probe returns queries x k rows, " +
      "recall >= 0.75, a pruned cell scan; brute force never reads label") {
    val (reps, k) = (4, 10)
    val emb = onDisk("emb", embShifted(reps))
    val nVec = emb.count()
    val nlist = math.max(32, Integer.highestOneBit(math.sqrt(nVec.toDouble).toInt))
    val queries = emb0.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), Similarity.asDouble(col("embedding")).as("qv"))
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, k)
    val rs = readSchema(bf)
    assert(rs.contains("embedding") && !rs.contains("label"),
      s"brute-force scan does not prune label: $rs")
    val bfSet = bf.select(col("qid"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val idx = s"$dir/ivfpq_$nlist"
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idx, nlist = nlist)
    val probe = Similarity.ivfPqTopKFromIndex(spark, idx, emb, "vec_id",
      "embedding", queries, k = k)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"persisted IVF-PQ probe is not partition-pruned:\n$plan")
    val got = probe.select(col("qid"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === queries.count() * k)
    val recall = (bfSet & got.toSet).size.toDouble / bfSet.size
    assert(recall >= 0.75, f"IVF-PQ recall $recall%.3f under the 0.75 floor")
  }
}
