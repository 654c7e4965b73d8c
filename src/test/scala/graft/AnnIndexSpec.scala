package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.llm.{AnnIndex, Similarity}

/** The build-once ANN index: broadcast centroid table (no plan
  * literals), cell-partitioned corpus layout, partition-pruned probes,
  * persisted LSH signatures, per-session artifact reuse. */
class AnnIndexSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf)

  // Jobs of a warm batch IVF-SQ probe: the centroid-row aggregate, the
  // grid, index-row, probe-set, corpus and query broadcasts, the pool
  // exchange, the answer's exchange and its result stage: no probe-set
  // checkpoint, no collect of the probed cells, no schema inference.
  private val MaxProbeJobs = 9
  // Jobs of an appendAll: the unit checkpoint, the duplicate-id check
  // and the three tier writes. Its four tier reads inferred a schema
  // with one job each before they read the footer.
  private val MaxAppendJobs = 13

  private def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
  }

  /** collect() that descends into AQE query stages (an executed
    * adaptive plan wraps its scans in Result/BroadcastQueryStage nodes,
    * which plain TreeNode.collect does not traverse). */
  private def deepScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
    p match {
      case a: AdaptiveSparkPlanExec => deepScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => deepScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(deepScans)
    }

  test("IVF probe partition-prunes: files read == files in the nProbe probed cells") {
    val dir = AnnIndex.ivfDir(spark, sf, emb)
    val probe = AnnIndex.probeIvf(spark, dir, emb, queryId = 0L, k = 10, nProbe = 4)
    probe.collect()

    val plan = probe.queryExecution.executedPlan
    val scans = deepScans(plan)
      .filter(_.metadata.get("Location").exists(_.contains("cells")))
    assert(scans.nonEmpty, s"no file scan over the cells layout:\n$plan")
    // the pruning predicate reaches the PARTITION level, not the data level
    assert(scans.head.metadata.get("PartitionFilters").exists(_.contains("cell")),
      s"cell predicate must be a partition filter:\n${scans.head.metadata}")

    val filesRead = scans.map(_.metrics("numFiles").value).sum
    val qVec = emb.filter(col("vec_id") === 0L).select("embedding")
      .collect().head.getSeq[Float](0).toArray
    val probed = AnnIndex.probeCellsFor(spark, dir, qVec, 4)
    val probedFiles = probed.map(c => parquetFiles(s"$dir/cells/cell=$c").size).sum
    val allFiles = parquetFiles(s"$dir/cells").size
    assert(filesRead == probedFiles,
      s"probe read $filesRead files, probed partitions hold $probedFiles")
    assert(filesRead < allFiles,
      s"probe must not touch all $allFiles files of the layout")
  }

  test("probe plan carries no array literals — size is O(nProbe), not O(nCells x dim)") {
    val dir = AnnIndex.ivfDir(spark, sf, emb)
    val probe = AnnIndex.probeIvf(spark, dir, emb, queryId = 0L, k = 10, nProbe = 4)
    val arrayLits = probe.queryExecution.optimizedPlan.expressions.flatMap(_.collect {
      case l: org.apache.spark.sql.catalyst.expressions.Literal
          if l.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] => l
    })
    assert(arrayLits.isEmpty,
      s"probe embeds ${arrayLits.size} array literals — centroids leaked into the plan")
  }

  test("nCells=256 builds and probes without plan blowup") {
    // 256 cells x 64 dims = 16384 doubles. As literals this crushed
    // codegen; as a broadcast table it is a 256-row join. The corpus
    // has fewer vectors than cells at this SF for sf0.001 (500), which
    // also exercises the empty-cell fallback.
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf256_").toString
    AnnIndex.buildIvf(spark, emb, dir, nCells = 256, lloydIters = 1)
    val probe = AnnIndex.probeIvf(spark, dir, emb, queryId = 0L, k = 10, nProbe = 192)
    val got = probe.collect()
    assert(got.length == 10)
    val planLen = probe.queryExecution.optimizedPlan.toString.length
    assert(planLen < 50000, s"probe plan unexpectedly large: $planLen chars")
    // probing 3/4 of 256 refined cells recovers the true top-10
    val exact = Similarity.bruteForceTopK(emb, 0L, 10).collect().map(_.getLong(0)).toSet
    val recall = (exact & got.map(_.getLong(0)).toSet).size.toDouble / exact.size
    assert(recall >= 0.9, s"nCells=256 recall $recall")
  }

  test("join-based assignment matches the argmax definition on a hand corpus") {
    // 3 orthogonal-ish clusters; every vector must land in the cell of
    // the centroid it dots highest with (ties -> smallest cell).
    val vecs = Seq(
      (0L, Array.tabulate(64)(d => if (d < 4) 1f else 0f)),
      (1L, Array.tabulate(64)(d => if (d >= 4 && d < 8) 1f else 0f)),
      (2L, Array.tabulate(64)(d => if (d >= 8 && d < 12) 1f else 0f)),
      (3L, Array.tabulate(64)(d => if (d < 4) 0.9f else if (d < 8) 0.1f else 0f))
    ).toDF("vec_id", "embedding")
    val units = vecs.select(col("vec_id"), Similarity.unitVector(col("embedding")).as("u"))
    val cents = Seq(
      (1, Array.tabulate(64)(d => if (d < 4) 0.5 else 0.0)),
      (2, Array.tabulate(64)(d => if (d >= 4 && d < 8) 0.5 else 0.0)),
      (3, Array.tabulate(64)(d => if (d >= 8 && d < 12) 0.5 else 0.0))
    ).toDF("cell", "centroid")
    val assigned = AnnIndex.assignCells(units, cents).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assigned == Map(0L -> 1, 1L -> 2, 2L -> 3, 3L -> 1), s"$assigned")
  }

  test("index artifacts are memoized per (session, sf, params) and deterministic") {
    val d1 = AnnIndex.ivfDir(spark, sf, emb)
    val d2 = AnnIndex.ivfDir(spark, sf, emb)
    assert(d1 == d2, "second touch must reuse the build")
    assert(AnnIndex.ivfDir(spark, sf, emb, nCells = 8) != d1,
      "different params are a different artifact")

    // determinism: an INDEPENDENT build in a fresh dir probes identically
    val fresh = java.nio.file.Files.createTempDirectory("graft_ivf_det_").toString
    AnnIndex.buildIvf(spark, emb, fresh)
    val a = AnnIndex.probeIvf(spark, d1, emb, 0L, 10, 12).collect().toSeq
    val b = AnnIndex.probeIvf(spark, fresh, emb, 0L, 10, 12).collect().toSeq
    assert(a == b, "two independent builds must probe bit-identically")
  }

  test("SQ8 tier: codes are int8-range, tier recalls the true top-10, 4x smaller on disk") {
    val dir = AnnIndex.sqDir(spark, sf, emb)
    val codes = spark.read.parquet(s"$dir/sq_codes")
    assert(codes.count() == emb.count())
    // every code in 0..255 (the int8 grid), every vector fully coded
    val bounds = codes.select(
      min(array_min(col("codes"))), max(array_max(col("codes"))),
      min(size(col("codes"))), max(size(col("codes")))).collect().head
    assert(bounds.getInt(0) >= 0 && bounds.getInt(1) <= 255, s"codes out of range: $bounds")
    assert(bounds.getInt(2) == 64 && bounds.getInt(3) == 64)

    // quantized-first-pass + exact re-rank finds the exact top-10
    val exact = Similarity.bruteForceTopK(emb, 0L, 10).collect().map(_.getLong(0)).toSet
    val sq = AnnIndex.sqTopK(spark, dir, emb, 0L, 10).collect().map(_.getLong(0)).toSet
    val recall = (exact & sq).size.toDouble / exact.size
    assert(recall >= 0.9, s"sq8 recall $recall; sq=$sq exact=$exact")

    // the compression claim is measured, not asserted from theory:
    // int8 codes must be well under half the float32 payload on disk
    // (raw ratio is 4x; parquet encoding overhead eats some of it)
    def bytesUnder(d: String): Long = parquetFiles(d).map(_.length()).sum
    val floatBytes = bytesUnder(s"$sf/embeddings.parquet")
    val codeBytes = bytesUnder(s"$dir/sq_codes")
    assert(codeBytes * 2 < floatBytes,
      s"sq_codes $codeBytes bytes vs float corpus $floatBytes — compression lost")

    // deterministic: an independent build probes identically
    val fresh = java.nio.file.Files.createTempDirectory("graft_sq_det_").toString
    AnnIndex.buildSq(spark, emb, fresh)
    val a = AnnIndex.sqTopK(spark, dir, emb, 0L, 10).collect().toSeq
    val b = AnnIndex.sqTopK(spark, fresh, emb, 0L, 10).collect().toSeq
    assert(a == b)
  }

  test("IVF-SQ composed probe: pruned partitions of the CODE table, float re-rank recalls top-10") {
    val ivf = AnnIndex.ivfDir(spark, sf, emb)
    val sq = AnnIndex.sqDir(spark, sf, emb)
    val csq = AnnIndex.ivfSqDir(spark, sf, emb)
    val probe = AnnIndex.probeIvfSq(spark, ivf, sq, csq, emb,
      queryId = 0L, k = 10, nProbe = 12)
    val got = probe.collect()
    assert(got.length == 10)

    // the first pass is partition-pruned over cells_sq (the small table)
    val scans = deepScans(probe.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("cells_sq")))
    assert(scans.nonEmpty, "no scan over the composed layout")
    assert(scans.head.metadata.get("PartitionFilters").exists(_.contains("cell")),
      s"cell predicate must partition-prune:\n${scans.head.metadata}")

    // composed tiers preserve the exact answer at this nProbe
    val exact = Similarity.bruteForceTopK(emb, 0L, 10).collect().map(_.getLong(0)).toSet
    val recall = (exact & got.map(_.getLong(0)).toSet).size.toDouble / exact.size
    assert(recall >= 0.9, s"ivf-sq recall $recall")
  }

  test("batch IVF-SQ probe prunes to the probed-cell union and matches the single-query probes") {
    val ivf = AnnIndex.ivfDir(spark, sf, emb)
    val sq = AnnIndex.sqDir(spark, sf, emb)
    val csq = AnnIndex.ivfSqDir(spark, sf, emb)
    val pred = col("vec_id") % 50 === 1
    val batch = AnnIndex.batchProbeIvfSq(spark, ivf, sq, csq, emb, pred,
      k = 5, nProbe = 12)
    val rows = batch.collect()
    val nQueries = emb.filter(pred).count()
    assert(rows.map(_.getLong(0)).distinct.length == nQueries,
      "every query must come back with results")

    // the code-table scan partition-prunes to the UNION of all
    // queries' probed cells — no batch-wide full scan
    val scans = deepScans(batch.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("cells_sq")))
    assert(scans.nonEmpty, "no scan over the composed layout")
    assert(scans.head.metadata.get("PartitionFilters").exists(_.contains("cell")),
      s"cell predicate must partition-prune:\n${scans.head.metadata}")
    val probe = AnnIndex.assignProbeCells(
      emb.filter(pred).select(col("vec_id"),
        Similarity.unitVector(col("embedding")).as("u")),
      spark.read.parquet(s"$ivf/centroids"), 12)
    val union = probe.select("cell").distinct().collect().map(_.getInt(0))
    val probedFiles = union.map(c => parquetFiles(s"$csq/cells_sq/cell=$c").size).sum
    val filesRead = scans.map(_.metrics("numFiles").value).sum
    assert(filesRead == probedFiles,
      s"batch probe read $filesRead files, probed-cell union holds $probedFiles")

    // per-query results equal the single-query probe (same params) —
    // the batch spelling changes the orchestration, not the answer
    for (qid <- rows.map(_.getLong(0)).distinct.take(3)) {
      val single = AnnIndex.probeIvfSq(spark, ivf, sq, csq, emb,
        queryId = qid, k = 5, nProbe = 12).collect().map(_.getLong(0)).toSeq
      val ofBatch = rows.filter(_.getLong(0) == qid).sortBy(_.getInt(1))
        .map(_.getLong(2)).toSeq
      assert(ofBatch == single, s"query $qid: batch $ofBatch vs single $single")
    }
  }

  /** Files the executed scans of the cell-partitioned tier at `tier`
    * read, files of the `cells` partitions, files of the whole tier. */
  private def tierFilesRead(df: org.apache.spark.sql.DataFrame, tier: String,
                            cells: Seq[Int]): (Long, Int, Int) = {
    df.collect()
    val scans = deepScans(df.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains(tier)))
    assert(scans.nonEmpty, s"no scan over $tier:\n${df.queryExecution.executedPlan}")
    (scans.map(_.metrics("numFiles").value).sum,
      cells.map(c => parquetFiles(s"$tier/cell=$c").size).sum, parquetFiles(tier).size)
  }

  /** The probed-cell union of `queries` (vec_id, embedding) at nProbe. */
  private def probedUnion(ivf: String, queries: org.apache.spark.sql.DataFrame,
                          nProbe: Int): Seq[Int] =
    AnnIndex.assignProbeCells(
      queries.select(col("vec_id"), Similarity.unitVector(col("embedding")).as("u")),
      AnnIndex.readTier(spark, s"$ivf/centroids"), nProbe)
      .select("cell").distinct().collect().map(_.getInt(0)).toSeq

  test("batch probes prune a strict-subset probed-cell union at run time: files read == union files < tier files") {
    val ivf = AnnIndex.ivfDir(spark, sf, emb)
    val sq = AnnIndex.sqDir(spark, sf, emb)
    val csq = AnnIndex.ivfSqDir(spark, sf, emb)
    val pq = AnnIndex.pqDir(spark, sf, emb)
    val cpq = AnnIndex.ivfPqDir(spark, sf, emb)
    // 2 queries x 2 cells: at most 4 of the 16 cells
    val pred = col("vec_id").isin(3L, 250L)
    val union = probedUnion(ivf, emb.filter(pred), 2)
    // the frame-shaped probe's queries are not in the corpus
    val outside = emb.filter(pred).select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    // the routed decontamination probes every 40th vector, 1 cell each
    val evalUnion = probedUnion(ivf, emb.filter(col("vec_id") % 40 === 0), 1)
    val cases = Seq(
      ("batchProbeIvfSq", AnnIndex.batchProbeIvfSq(spark, ivf, sq, csq, emb, pred, k = 5, nProbe = 2),
        s"$csq/cells_sq", union),
      ("batchProbeIvfSqFrames", AnnIndex.batchProbeIvfSqFrames(spark, ivf, sq, csq, emb, outside,
        k = 5, nProbe = 2), s"$csq/cells_sq", union),
      ("batchProbeIvfPq", AnnIndex.batchProbeIvfPq(spark, ivf, pq, cpq, emb, pred, k = 5, nProbe = 2),
        s"$cpq/cells_pq", union),
      ("decontaminateRouted", AnnIndex.decontaminateRouted(spark, ivf, emb, 0.4, nProbe = 1),
        s"$ivf/cells", evalUnion))
    for ((what, df, tier, cells) <- cases) {
      val (read, inUnion, all) = tierFilesRead(df, tier, cells)
      assert(read == inUnion && inUnion < all,
        s"$what read $read files; the probed cells ${cells.sorted} hold $inUnion of the tier's $all")
    }
  }

  test("a warm batch IVF-SQ probe runs a bounded number of jobs; tier reads and appendAll infer no schema") {
    val ivf = AnnIndex.ivfDir(spark, sf, emb)
    val sq = AnnIndex.sqDir(spark, sf, emb)
    val csq = AnnIndex.ivfSqDir(spark, sf, emb)
    val queries = emb.filter(col("vec_id") % 31 === 5)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    def probe(): Unit = AnnIndex.batchProbeIvfSqFrames(spark, ivf, sq, csq, emb, queries,
      k = 5, nProbe = 4).collect(): Unit
    probe()
    val probeJobs = SparkJobs.count(spark)(probe())
    assert(probeJobs <= MaxProbeJobs, s"a warm batch probe ran $probeJobs jobs")
    for (tier <- Seq(s"$ivf/centroids", s"$ivf/cells", s"$sq/sq_params", s"$sq/sq_codes", s"$csq/cells_sq"))
      assert(SparkJobs.count(spark)(AnnIndex.readTier(spark, tier): Unit) == 0, s"reading $tier ran a job")

    import spark.implicits._
    def v(base: Int, jitter: Float): Array[Float] =
      Array.tabulate(64)(d => (if (d / 8 == base) 1f else 0f) + (if (d == 63) jitter else 0f))
    val corpus = (0 until 24).map(i => (i.toLong, v(i % 3, i * 0.001f))).toDF("vec_id", "embedding")
    val dir = tmpDir("graft_append_jobs_spec_")
    AnnIndex.buildIvfSqAll(spark, corpus, s"$dir/ivf", s"$dir/sq", s"$dir/csq", nCells = 3)
    val delta = Seq((100L, v(0, 0.5f)), (101L, v(1, 0.0f))).toDF("vec_id", "embedding")
    val appendJobs = SparkJobs.count(spark)(
      AnnIndex.appendAll(spark, s"$dir/ivf", s"$dir/sq", s"$dir/csq", delta))
    assert(appendJobs <= MaxAppendJobs, s"appendAll ran $appendJobs jobs")
    assert(AnnIndex.readTier(spark, s"$dir/csq/cells_sq").count() == 26)
  }

  test("append maintains the index without rebuild: centroids/grid byte-identical, delta rows live") {
    import spark.implicits._
    // synthetic clustered corpus: 3 tight clusters of 8, ids 0..23
    def v(base: Int, jitter: Float): Array[Float] =
      Array.tabulate(64)(d => (if (d / 8 == base) 1f else 0f) + (if (d == 63) jitter else 0f))
    val corpus = (0 until 24).map(i => (i.toLong, v(i % 3, i * 0.001f))).toDF("vec_id", "embedding")
    // delta: a NEW vector nearly collinear with vec 0 — after append,
    // a probe for vec 0 must return it as the nearest neighbor
    val delta = Seq((100L, v(0, 0.0011f))).toDF("vec_id", "embedding")
    val dir = tmpDir("graft_append_spec_")
    AnnIndex.buildIvf(spark, corpus, s"$dir/ivf", nCells = 3)
    AnnIndex.buildSq(spark, corpus, s"$dir/sq")
    AnnIndex.buildIvfSq(spark, s"$dir/ivf", s"$dir/sq", s"$dir/csq")

    def bytesOf(d: String): Map[String, Seq[Byte]] =
      parquetFiles(d).map(f => f.getName ->
        java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    val centBefore = bytesOf(s"$dir/ivf/centroids")
    val paramsBefore = bytesOf(s"$dir/sq/sq_params")
    val cellFilesBefore = parquetFiles(s"$dir/ivf/cells").map(_.getPath).toSet

    AnnIndex.appendIvf(spark, s"$dir/ivf", delta)
    AnnIndex.appendSq(spark, s"$dir/sq", delta)
    AnnIndex.appendIvfSq(spark, s"$dir/ivf", s"$dir/sq", s"$dir/csq", delta)

    // NO rebuild: the centroid table and quantization grid are
    // byte-identical, and every pre-append cell file is still present
    // (append added files, never rewrote)
    assert(bytesOf(s"$dir/ivf/centroids") == centBefore, "centroids changed")
    assert(bytesOf(s"$dir/sq/sq_params") == paramsBefore, "sq grid changed")
    assert(cellFilesBefore.subsetOf(parquetFiles(s"$dir/ivf/cells").map(_.getPath).toSet),
      "append rewrote existing cell files")

    // delta-only writes: exactly corpus+delta rows in every layout
    val all = corpus.unionByName(delta)
    assert(spark.read.parquet(s"$dir/ivf/cells").count() == 25)
    assert(spark.read.parquet(s"$dir/sq/sq_codes").count() == 25)
    assert(spark.read.parquet(s"$dir/csq/cells_sq").count() == 25)

    // the appended vector is LIVE: nearest neighbor of vec 0 is 100.
    // rerank=12 >= the cluster size: the synthetic cluster members
    // quantize to IDENTICAL codes (their differences sit below one
    // int8 step), so the first-pass pool is tie-broken by vec_id and
    // must be wide enough to carry the whole cluster into the exact
    // float re-rank that separates them.
    val got = AnnIndex.probeIvfSq(spark, s"$dir/ivf", s"$dir/sq", s"$dir/csq",
      all, queryId = 0L, k = 1, nProbe = 2, rerank = 12).collect()
    assert(got.head.getLong(0) == 100L,
      s"appended neighbor not found: ${got.mkString(",")}")
  }

  test("appendAll refuses a delta that repeats a vec_id before any tier is written") {
    import spark.implicits._
    def v(base: Int, jitter: Float): Array[Float] =
      Array.tabulate(64)(d => (if (d / 8 == base) 1f else 0f) + (if (d == 63) jitter else 0f))
    val corpus = (0 until 24).map(i => (i.toLong, v(i % 3, i * 0.001f))).toDF("vec_id", "embedding")
    val dir = tmpDir("graft_append_dup_spec_")
    AnnIndex.buildIvfSqAll(spark, corpus, s"$dir/ivf", s"$dir/sq", s"$dir/csq", nCells = 3)
    def bytesOf(d: String): Map[String, Seq[Byte]] =
      parquetFiles(d).map(f => f.getPath -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    val before = bytesOf(dir)
    // the same id twice, with two different embeddings
    val delta = Seq((100L, v(0, 0.5f)), (101L, v(1, 0.0f)), (100L, v(2, 0.5f)))
      .toDF("vec_id", "embedding")
    val err = intercept[IllegalArgumentException] {
      AnnIndex.appendAll(spark, s"$dir/ivf", s"$dir/sq", s"$dir/csq", delta)
    }
    assert(err.getMessage.contains("vec_id 100"), err.getMessage)
    assert(bytesOf(dir) == before, "a refused append must leave every tier untouched")
    assert(spark.read.parquet(s"$dir/ivf/cells").count() == 24)
    assert(spark.read.parquet(s"$dir/sq/sq_codes").count() == 24)
    assert(spark.read.parquet(s"$dir/csq/cells_sq").count() == 24)
  }

  test("PQ tier: m codes per vector in 1..nCents, smaller than SQ8 on disk, recalls top-10, deterministic") {
    val dir = AnnIndex.pqDir(spark, sf, emb)
    val codes = spark.read.parquet(s"$dir/pq_codes")
    assert(codes.count() == emb.count())
    val bounds = codes.select(
      min(size(col("codes"))), max(size(col("codes"))),
      min(array_min(col("codes"))), max(array_max(col("codes")))).collect().head
    assert(bounds.getInt(0) == 16 && bounds.getInt(1) == 16, s"code length: $bounds")
    assert(bounds.getInt(2) >= 1 && bounds.getInt(3) <= 32, s"cell ids out of range: $bounds")
    // the codebook is m*nCents rows of subDim-dim centroids
    val cents = spark.read.parquet(s"$dir/pq_centroids")
    assert(cents.count() == 16L * 32L)
    assert(cents.select(min(size(col("centroid"))), max(size(col("centroid"))))
      .collect().head == org.apache.spark.sql.Row(4, 4))

    // the byte-budget claim is measured: PQ codes well under the SQ8
    // code table, which is itself well under the float corpus
    def bytesUnder(d: String): Long = parquetFiles(d).map(_.length()).sum
    val pqBytes = bytesUnder(s"$dir/pq_codes")
    val sqBytes = bytesUnder(s"${AnnIndex.sqDir(spark, sf, emb)}/sq_codes")
    val floatBytes = bytesUnder(s"$sf/embeddings.parquet")
    assert(pqBytes < sqBytes, s"pq_codes $pqBytes !< sq_codes $sqBytes")
    assert(pqBytes * 3 < floatBytes, s"pq_codes $pqBytes vs floats $floatBytes")

    // ADC first pass + exact re-rank recovers the true top-10
    val exact = Similarity.bruteForceTopK(emb, 3L, 10).collect().map(_.getLong(0)).toSet
    val got = AnnIndex.pqTopK(spark, dir, emb, 3L, 10).collect().map(_.getLong(0)).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.9, s"pq recall $recall; got=$got exact=$exact")

    // deterministic: an independent build probes identically
    val fresh = java.nio.file.Files.createTempDirectory("graft_pq_det_").toString
    AnnIndex.buildPq(spark, emb, fresh)
    val a = AnnIndex.pqTopK(spark, dir, emb, 3L, 10).collect().toSeq
    val b = AnnIndex.pqTopK(spark, fresh, emb, 3L, 10).collect().toSeq
    assert(a == b)
  }

  test("IVFPQ composed probe: pruned partitions of the PQ code table, recalls top-10") {
    val ivf = AnnIndex.ivfDir(spark, sf, emb)
    val pq = AnnIndex.pqDir(spark, sf, emb)
    val cpq = AnnIndex.ivfPqDir(spark, sf, emb)
    val probe = AnnIndex.probeIvfPq(spark, ivf, pq, cpq, emb,
      queryId = 13L, k = 10, nProbe = 12)
    val got = probe.collect()
    assert(got.length == 10)

    // the ADC first pass is partition-pruned over cells_pq
    val scans = deepScans(probe.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("cells_pq")))
    assert(scans.nonEmpty, "no scan over the composed layout")
    assert(scans.head.metadata.get("PartitionFilters").exists(_.contains("cell")),
      s"cell predicate must partition-prune:\n${scans.head.metadata}")

    val exact = Similarity.bruteForceTopK(emb, 13L, 10).collect().map(_.getLong(0)).toSet
    val recall = (exact & got.map(_.getLong(0)).toSet).size.toDouble / exact.size
    assert(recall >= 0.9, s"ivfpq recall $recall")
  }

  test("batch IVFPQ probe prunes the code table and matches the single-query probes") {
    val ivf = AnnIndex.ivfDir(spark, sf, emb)
    val pq = AnnIndex.pqDir(spark, sf, emb)
    val cpq = AnnIndex.ivfPqDir(spark, sf, emb)
    val pred = col("vec_id") % 50 === 2
    val batch = AnnIndex.batchProbeIvfPq(spark, ivf, pq, cpq, emb, pred,
      k = 5, nProbe = 14, rerank = 24)
    val rows = batch.collect()
    assert(rows.map(_.getLong(0)).distinct.length == emb.filter(pred).count())

    val scans = deepScans(batch.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("cells_pq")))
    assert(scans.nonEmpty, "no scan over the composed PQ layout")
    assert(scans.head.metadata.get("PartitionFilters").exists(_.contains("cell")),
      s"cell predicate must partition-prune:\n${scans.head.metadata}")

    // per-query batch rows equal the single-query probe at the same
    // (k, nProbe, rerank) — orchestration changes, the answer doesn't
    for (qid <- rows.map(_.getLong(0)).distinct.take(3)) {
      val single = AnnIndex.probeIvfPq(spark, ivf, pq, cpq, emb,
        queryId = qid, k = 5, nProbe = 14, rerank = 24)
        .collect().map(_.getLong(0)).toSeq
      val ofBatch = rows.filter(_.getLong(0) == qid).sortBy(_.getInt(1))
        .map(_.getLong(2)).toSeq
      assert(ofBatch == single, s"query $qid: batch $ofBatch vs single $single")
    }
  }

  test("LSH signature table round-trips and serves the single-query probe") {
    val sig = AnnIndex.lshSignatures(spark, sf, emb)
    assert(sig.columns.toSeq == Seq("vec_id", "embedding", "buckets"))
    assert(sig.count() == emb.count())
    // persisted signatures give the same answer as inline hashing
    val fromIndex = Similarity.annLshTopKFromSignatures(sig, 0L, 10, numTables = 6)
      .collect().toSeq
    val inline = Similarity.annLshTopK(emb, 0L, 10, numPlanes = 4, numTables = 6)
      .collect().toSeq
    assert(fromIndex == inline)
  }

  test("routed decontamination: subset of exact pairs, complete here, pruned partition scan") {
    val dir = AnnIndex.ivfDir(spark, sf, emb)
    // exact over-threshold pairs by brute force
    val u = emb.select(col("vec_id"), Similarity.unitVector(col("embedding")).as("u"))
    val ev = u.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("qid"), col("u").as("qu"))
    val exact = u.filter(col("vec_id") % 40 =!= 0).crossJoin(broadcast(ev))
      .select(col("vec_id"), Similarity.dot(col("u"), col("qu")).as("c"))
      .filter(col("c") >= 0.4)
      .groupBy("vec_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val routed = AnnIndex.decontaminateRouted(spark, dir, emb, 0.4, nProbe = 14)
    val got = routed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // routed can only UNDER-report (candidate restriction), never invent
    got.foreach { case (id, n) => assert(n <= exact.getOrElse(id, 0L), s"vec $id") }
    // at this SF + nProbe the routed report is complete (measured contract)
    assert(got == exact)
    // gate row shape: exact report + TRUE gate at the default bound
    val gated = AnnIndex.decontaminateRoutedGate(spark, dir, emb)
    assert(gated.collect().forall(_.getAs[Boolean]("ann_routed_ok")))

    // a tight probe (nProbe=1: union <= |eval| < nCells) must scan
    // ONLY the probed-cell union
    val tight = AnnIndex.decontaminateRouted(spark, dir, emb, 0.4, nProbe = 1)
    tight.collect()
    val scans = deepScans(tight.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("cells")))
    assert(scans.nonEmpty)
    assert(scans.head.metadata.get("PartitionFilters").exists(_.contains("cell")))
    val filesRead = scans.map(_.metrics("numFiles").value).sum
    assert(filesRead < parquetFiles(s"$dir/cells").size,
      s"tight probe read $filesRead files — no partition pruning")
  }

  test("compactPartitioned: fewer files per cell, identical rows, partition values preserved") {
    import graft.sink.Compaction
    val dir = tmpDir("compact-cells") + "/cells"
    val df = (0 until 400).map(i => (i.toLong, i % 8, s"payload$i")).toDF("vec_id", "cell", "p")
    // two appends = at least two files per populated cell dir
    df.repartition(4).write.partitionBy("cell").mode("append").parquet(dir)
    df.withColumn("vec_id", col("vec_id") + 1000)
      .repartition(4).write.partitionBy("cell").mode("append").parquet(dir)
    val beforeRows = spark.read.parquet(dir).collect().toSet
    val perCellBefore = parquetFiles(dir).groupBy(_.getParentFile.getName).view.mapValues(_.size).toMap
    assert(perCellBefore.values.forall(_ >= 2), s"fixture not fragmented: $perCellBefore")

    val (nb, na) = Compaction.compactPartitioned(spark, dir, "cell", "vec_id")
    assert(nb == perCellBefore.values.sum && na < nb)
    val perCellAfter = parquetFiles(dir).groupBy(_.getParentFile.getName).view.mapValues(_.size).toMap
    // default 128 MB budget: every small cell collapses to ONE file
    assert(perCellAfter.keySet == perCellBefore.keySet)
    assert(perCellAfter.values.forall(_ == 1), s"per-cell after: $perCellAfter")
    assert(spark.read.parquet(dir).collect().toSet == beforeRows)
  }

  test("compactPartitioned honors a per-cell file budget (hot cell splits, stays within budget)") {
    import graft.sink.Compaction
    val dir = tmpDir("compact-budget") + "/cells"
    (0 until 2000).map(i => (i.toLong, i % 2, "x" * 50)).toDF("vec_id", "cell", "p")
      .repartition(8).write.partitionBy("cell").mode("append").parquet(dir)
    val bytesPerCell = parquetFiles(dir).groupBy(_.getParentFile.getName)
      .view.mapValues(_.map(_.length).sum).toMap
    // target = half a cell's bytes -> every cell's budget is >= 2 files
    val target = bytesPerCell.values.min / 2
    val rows = spark.read.parquet(dir).collect().toSet
    Compaction.compactPartitioned(spark, dir, "cell", "vec_id", targetFileBytes = target)
    val perCellAfter = parquetFiles(dir).groupBy(_.getParentFile.getName).view.mapValues(_.size).toMap
    perCellAfter.foreach { case (cell, n) =>
      val budget = math.max(1L, (bytesPerCell(cell) + target - 1) / target)
      assert(n >= 2 && n <= budget, s"$cell: $n files, budget $budget")
    }
    assert(spark.read.parquet(dir).collect().toSet == rows)
  }

  test("IVF compaction demo: file counts drop in both trees, probe answer survives bit-identical") {
    val dir = AnnIndex.compactDemoDir(spark, sf, emb)
    val r = spark.read.parquet(s"$dir/report").collect()(0)
    assert(r.getInt(1) < r.getInt(0), s"ivf cells: ${r.getInt(0)} -> ${r.getInt(1)}")
    assert(r.getInt(3) < r.getInt(2), s"csq cells: ${r.getInt(2)} -> ${r.getInt(3)}")
    val pre = spark.read.parquet(s"$dir/probe_pre").collect().toSet
    val post = AnnIndex.probeIvfSq(spark, s"$dir/ivf", s"$dir/sq", s"$dir/csq",
      emb, queryId = 17L, k = 10, nProbe = 12).collect().toSet
    assert(pre == post)
    // compaction must not touch the shared append artifact's layout
    val src = AnnIndex.appendDemoDir(spark, sf, emb)
    assert(parquetFiles(s"$src/ivf/cells").nonEmpty)
  }

  test("artifact cache vacuum: unreferenced trees reclaim, retained survive, rebuild on demand") {
    import graft.llm.Bm25
    val corpA = Seq((0L, "alpha beta"), (1L, "beta gamma")).toDF("doc_id", "text")
    val corpB = Seq((0L, "delta epsilon")).toDF("doc_id", "text")
    val dirA = Bm25.indexDir(corpA)
    val dirB = Bm25.indexDir(corpB)
    val keyA = s"bm25:${corpA.queryExecution.analyzed.semanticHash()}"
    val keyB = s"bm25:${corpB.queryExecution.analyzed.semanticHash()}"
    // corpus B's version rolled over: its source hash is no longer
    // referenced — sweep everything that isn't keyB
    val (dropped, kept) = AnnIndex.vacuumArtifacts(spark, k => k != keyB)
    assert(dropped == Seq(keyB))
    assert(kept.contains(keyA))
    assert(!new java.io.File(dirB).exists, "dropped artifact tree must be reclaimed")
    assert(new java.io.File(dirA).exists, "retained artifact must survive the sweep")
    // retained key still memoizes (no rebuild) ...
    assert(Bm25.indexDir(corpA) == dirA)
    // ... and the dropped one rebuilds ON DEMAND into a fresh tree
    val dirB2 = Bm25.indexDir(corpB)
    assert(dirB2 != dirB, "rebuild must allocate a new artifact dir")
    assert(new java.io.File(s"$dirB2/postings").exists)
    val scored = Bm25.score(corpB, org.apache.spark.sql.functions.col("doc_id") === 0)
      .collect()
    assert(scored.nonEmpty, "scoring from the rebuilt artifact must work")
  }

  test("nn-descent: partition-insensitive graph, recall gate holds, artifact memoized") {
    import graft.llm.NnDescent
    val dir = NnDescent.graphDir(spark, sf, emb)
    assert(NnDescent.graphDir(spark, sf, emb) == dir,
      "same session + fixture must reuse the graph artifact")
    val edges = NnDescent.graphEdges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(edges.nonEmpty)
    // every node carries at most k edges, no self loops
    val degrees = edges.groupBy(_._1).view.mapValues(_.size)
    assert(degrees.values.forall(_ <= 20))
    assert(edges.forall(e => e._1 != e._2))
    // byte-stable under input repartitioning: the iterative joins,
    // fixed-order cosine folds, and dst-id tie-breaks admit no
    // partition-order dependence
    val dir2 = tmpDir("nnd_reparts_")
    NnDescent.buildGraph(emb.repartition(7), dir2)
    val edges2 = NnDescent.graphEdges(spark, dir2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(edges2 == edges, "graph must be independent of input partitioning")
    // the registered row's gate: graph recall@5 >= 0.9 on this fixture
    val gated = NnDescent.recallGate(emb, dir, col("vec_id") % 50 === 3).collect()
    assert(gated.nonEmpty && gated.forall(_.getBoolean(4)),
      "graph recall gate must hold")
  }

  test("graph beam search: bounded scored set per query, deterministic, recall gate holds") {
    import graft.llm.NnDescent
    val dir = NnDescent.graphDir(spark, sf, emb)
    val res = NnDescent.searchGraph(emb, dir, col("vec_id") % 50 === 7)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(res.nonEmpty)
    // never returns the query itself; ranks contiguous from 1
    assert(res.forall { case (q, _, v) => q != v })
    res.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.size), s"query $q")
    }
    // deterministic under input repartitioning
    val res2 = NnDescent.searchGraph(emb.repartition(5), dir, col("vec_id") % 50 === 7)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(res2 == res, "search must be partition-insensitive")
    val gated = NnDescent.searchRecallGate(emb, dir, col("vec_id") % 50 === 7).collect()
    assert(gated.nonEmpty && gated.forall(_.getBoolean(4)),
      "search recall gate must hold")
  }

  test("graph append: delta inserts via bounded CoW merge; both delta and standing queries gate") {
    import graft.llm.NnDescent
    import graft.sink.ManifestSink
    val dir = NnDescent.appendDemoDir(spark, sf, emb)
    val root = s"$dir/graphtab"
    // the append committed as a CoW merge epoch on the index table:
    // epoch 2 current, epoch 1 = the pre-append graph (time travel),
    // and the delta src keys exist only in epoch 2
    assert(ManifestSink.currentEpoch(spark, root) == 2)
    val deltaIds = emb.filter(col("vec_id") % 50 === 11)
      .select("vec_id").as[Long].collect().toSet
    val pre = ManifestSink.read(spark, root, epoch = 1)
      .select("src").as[Long].collect().toSet
    assert(pre.intersect(deltaIds).isEmpty, "pre-append graph must not know the delta")
    val post = ManifestSink.read(spark, root)
      .select("src").as[Long].collect().toSet
    assert(deltaIds.subsetOf(post), "every delta node must carry adjacency after append")
    // the delta queries gate like a full graph; standing queries
    // still gate (reverse refresh kept their lists current)
    for (m <- Seq(11, 3)) {
      val g = NnDescent.recallGate(emb, dir, col("vec_id") % 50 === m).collect()
      assert(g.nonEmpty && g.forall(_.getBoolean(4)), s"gate failed for % 50 == $m")
    }
  }
}
