package graft.llm

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, IntegerType, StructField, StructType}

/** ANN as a BUILD-ONCE INDEX, not a per-query demo.
  *
  * The retrieval shapes a training-data pipeline actually runs — "label
  * every doc with its nearest eval neighbors", "serve per-prompt
  * context" — hit the same corpus with thousands of queries, so the
  * expensive parts (centroid training, cell assignment, LSH signature
  * hashing) must be paid ONCE and persisted, then every probe reads
  * only its slice of the persisted layout:
  *
  *  - IVF: centroids live in a k-row parquet table (broadcast-joined
  *    for assignment — NEVER embedded as nCells x dim plan literals,
  *    which bloats the expression tree O(nCells*dim) and breaks codegen
  *    at real cell counts), and the corpus is written PARTITIONED BY
  *    cell, so a probe's `cell IN (...)` prunes to nProbe partitions at
  *    the file-listing level — the q_zorder_layout pruning discipline
  *    applied to vector search. AnnIndexSpec pins the pruning (files
  *    read == files in probed partitions) and that nCells=256 plans
  *    without literal blowup.
  *  - LSH: the (vec_id, embedding, buckets) signature table is hashed
  *    once and persisted; single-query probes and batch bucket joins
  *    both read it instead of re-projecting numTables x numPlanes
  *    hyperplanes over the corpus per query.
  *
  * Artifacts are memoized per (session, sfDir+params) so every
  * registered query in a run shares one build; at cluster scale the
  * same writes land on a real table path and survive across jobs.
  */
object AnnIndex {

  private val Dim = 64

  // ---- persisted tiers ----

  /** Read one persisted tier under the schema its files were written
    * with: the Spark row schema every parquet footer carries, plus the
    * int `cell` partition column of the cell-partitioned tiers. A bare
    * `spark.read.parquet` launches a schema-inference job per read;
    * this reads one footer on the driver instead. Each tier's shape is
    * fixed by the code that writes it except `vec_id` (and the `cells`
    * tier's payload), which follow the caller's frame, so the footer is
    * the one record of what was written. */
  private[graft] def readTier(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    // depth-first to the first data file; the directories on the way
    // are the partition columns (`cell=N`)
    def firstFile(dir: Path, parts: List[String]): Option[(Path, List[String])] = {
      val (dirs, files) = fs.listStatus(dir)
        .filterNot(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName).partition(_.isDirectory)
      files.find(_.getPath.getName.endsWith(".parquet")).map(f => (f.getPath, parts))
        .orElse(dirs.iterator.map(d => firstFile(d.getPath,
          parts :+ d.getPath.getName.takeWhile(_ != '='))).collectFirst { case Some(f) => f })
    }
    val (file, partCols) = firstFile(root, Nil)
      .getOrElse(throw new IllegalStateException(s"index tier $path holds no data file"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val written = try reader.getFooter.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata") finally reader.close()
    val dataSchema = DataType.fromJson(written).asInstanceOf[StructType]
    spark.read.schema(StructType(dataSchema.fields ++ partCols.map(StructField(_, IntegerType))))
      .parquet(path)
  }

  // ---- distributed IVF training (broadcast-join assignment) ----

  /** Deterministic hash-sample seeds: the nCells corpus vectors with
    * the smallest murmur3(vec_id), unit-normalized, numbered 1..nCells
    * in (hash, id) order. The row_number window runs on the ALREADY
    * LIMITed nCells rows — never a global single-partition sort. */
  private[graft] def seedCentroids(embeddings: DataFrame, nCells: Int): DataFrame =
    seedCentroidsFromUnits(
      embeddings.select(col("vec_id"),
        Similarity.unitVector(col("embedding")).as("u")), nCells)

  /** Same seeds from an already-projected (vec_id, u) unit table. */
  private[graft] def seedCentroidsFromUnits(units: DataFrame, nCells: Int): DataFrame =
    units
      .select(col("vec_id"), col("u").as("centroid"))
      .orderBy(hash(col("vec_id")), col("vec_id"))
      .limit(nCells)
      .withColumn("cell",
        row_number().over(Window.orderBy(hash(col("vec_id")), col("vec_id"))))
      .select(col("cell"), col("centroid"))

  /** Nearest-centroid assignment as a BROADCAST JOIN + argmax over
    * rows: units x broadcast(centroids) -> per-row dot -> min over
    * (-dot, cell) structs. The k-fold row expansion is map-side only
    * (broadcast join), and the hash aggregate's partial phase collapses
    * it back to one row per vec_id BEFORE the shuffle — exchange volume
    * is n rows, not n*k. The struct min is the deterministic tie-break
    * (largest dot, then smallest cell — same as the first-max-index
    * rule the literal-array spelling used). */
  private[graft] def assignCells(units: DataFrame, centroids: DataFrame): DataFrame =
    units.crossJoin(broadcast(centroids))
      .select(col("vec_id"),
        struct((-Similarity.dot(col("u"), col("centroid"))).as("nd"),
          col("cell").as("c")).as("sc"))
      .groupBy(col("vec_id"))
      .agg(min(col("sc")).as("m"))
      .select(col("vec_id"), col("m.c").as("cell"))

  /** `iters` distributed Lloyd passes over hash-sampled seeds; fully
    * distributed — no k-row driver collect per pass. Element sums go
    * through DECIMAL(28,10) so per-cell means are bit-stable under any
    * partial-agg order; the re-normalization fold is sequential in
    * element order on both the SQL and the driver spelling. Cells that
    * captured no vectors keep their previous centroid. Each pass ends
    * in a k-row localCheckpoint (trivially rebuildable; the real
    * artifact is the parquet write in buildIvf). */
  private[graft] def trainCentroids(units: DataFrame, seeds: DataFrame,
                                    iters: Int): DataFrame = {
    var cents = seeds
    for (_ <- 0 until iters) {
      val assigned = assignCells(units, cents)
      val sums = (0 until Dim).map(i =>
        sum(element_at(col("u"), i + 1).cast(DecimalType(28, 10)))
          .cast(DoubleType).as(s"s$i"))
      val refined = units.join(assigned, Seq("vec_id"))
        .groupBy(col("cell"))
        .agg(sums.head, sums.tail :+ count(lit(1)).as("n"): _*)
        .select(col("cell"),
          array((0 until Dim).map(i => col(s"s$i") / col("n")): _*).as("m"))
        .withColumn("nrm", sqrt(aggregate(col("m"), lit(0.0), (acc, x) => acc + x * x)))
        .select(col("cell"),
          when(col("nrm") > 0, transform(col("m"), _ / col("nrm"))).as("refined"))
      cents = cents.join(refined, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("refined"), col("centroid")).as("centroid"))
        .localCheckpoint()
    }
    cents
  }

  // ---- index build / probe ----

  /** Build the IVF index under `dir`:
    *   dir/centroids — (cell, centroid) parquet, nCells rows;
    *   dir/cells     — the corpus partitioned by cell (Hive layout),
    *                   so probes prune at file listing.
    * Assignment reads the centroids BACK from parquet — the persisted
    * doubles, not the training lineage, are the contract. */
  def buildIvf(spark: SparkSession, embeddings: DataFrame, dir: String,
               nCells: Int = 16, lloydIters: Int = 1): Unit = {
    // Unit vectors feed every Lloyd pass AND the final assignment;
    // materialize once. localCheckpoint is not executor-fault-tolerant
    // — acceptable for a bounded build job (a lost executor restarts
    // the build); a long-lived cluster build would persist
    // MEMORY_AND_DISK instead.
    val units = unitsOf(embeddings).localCheckpoint()
    buildIvfFromUnits(spark, embeddings, units, dir, nCells, lloydIters)
  }

  private[graft] def unitsOf(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), Similarity.unitVector(col("embedding")).as("u"))

  private def buildIvfFromUnits(spark: SparkSession, embeddings: DataFrame,
                                units: DataFrame, dir: String,
                                nCells: Int, lloydIters: Int): Unit = {
    // seeds from the shared unit table — same rows seedCentroids
    // derives (unitVector is deterministic), one corpus pass saved
    val cents = trainCentroids(units,
      seedCentroidsFromUnits(units, nCells), lloydIters)
    cents.coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    val assigned = assignCells(units, readTier(spark, s"$dir/centroids"))
    embeddings.join(assigned, Seq("vec_id"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$dir/cells")
  }

  /** The query's nProbe nearest cells — one nCells-row read + argsort,
    * driver-side by nature (it picks WHICH partitions to touch). */
  private[graft] def probeCellsFor(spark: SparkSession, dir: String,
                                   qVec: Array[Float], nProbe: Int): Seq[Int] =
    readTier(spark, s"$dir/centroids").collect()
      .map { r =>
        val c = r.getSeq[Double](1)
        (r.getInt(0), c.zip(qVec).map { case (a, b) => a * b.toDouble }.sum)
      }
      .sortBy { case (cell, d) => (-d, cell) }
      .take(nProbe).map(_._1).toSeq

  /** Cell choice for a query ALREADY IN the corpus, computed in the
    * plan: the query row joins the broadcast k-row centroid table and
    * only the nProbe winning CELL IDS come back to the driver — one
    * bounded collect of ints (inherent: the ids select which partitions
    * the probe touches), not a round-trip for the vector plus a second
    * for the centroid table. Dot arithmetic is the same sequential
    * element-order fold as probeCellsFor, so both spellings rank cells
    * bit-identically. Empty result <=> the query id is absent. */
  private[graft] def probeCellsForQuery(spark: SparkSession, dir: String,
                                        embeddings: DataFrame, queryId: Long,
                                        nProbe: Int): Seq[Int] = {
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(transform(col("embedding"), x => x.cast(DoubleType)).as("qv"))
    readTier(spark, s"$dir/centroids")
      .crossJoin(broadcast(q))
      .select(col("cell"), Similarity.dot(col("centroid"), col("qv")).as("d"))
      .orderBy(col("d").desc, col("cell"))
      .limit(nProbe)
      .collect().map(_.getInt(0)).toSeq
  }

  /** Probe the persisted index: read ONLY the nProbe nearest cell
    * partitions, exact-cosine re-rank, top-k. The corpus scan is
    * partition-pruned — at cluster scale this touches nProbe
    * directories of a 100 TB table, never the table. */
  def probeIvf(spark: SparkSession, dir: String, embeddings: DataFrame,
               queryId: Long = 0L, k: Int = 10, nProbe: Int = 4): DataFrame = {
    val cells = probeCellsForQuery(spark, dir, embeddings, queryId, nProbe)
    require(cells.nonEmpty, s"probeIvf: query vec_id=$queryId not found in corpus")
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    readTier(spark, s"$dir/cells")
      .filter(col("cell").isin(cells: _*) && col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), Similarity.cosine(col("embedding"), col("q_emb")).as("raw_cos"))
      .orderBy(col("raw_cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("raw_cos"), 4).as("cos_sim"))
  }

  /** Persist the LSH signature table (vec_id, embedding, buckets):
    * numTables sign-LSH bucket ids per vector, hashed ONCE. */
  def buildLsh(embeddings: DataFrame, path: String,
               numPlanes: Int = 4, numTables: Int = 6): Unit =
    Similarity.lshSignatureTable(embeddings, numPlanes, numTables)
      .write.mode("overwrite").parquet(path)

  // ---- int8 scalar-quantized tier (the IO lever at 100 TB) ----
  //
  // A float32 embedding table's payload IS the scan bill at corpus
  // scale; 8-bit scalar quantization cuts the first-pass bytes 4x
  // (dim bytes/vector instead of 4*dim). The standard two-phase read:
  // rank EVERYTHING on the quantized codes (cheap, slightly lossy),
  // then exact-float re-rank only a rerank*k candidate pool — recall
  // is gated, not assumed, exactly like the LSH/IVF tiers.
  //
  // Quantization grid: per-DIMENSION affine (min_d, scale_d) over the
  // UNIT-normalized corpus, so dequantized dot products approximate
  // cosine directly. Codes are exact integers from one deterministic
  // rounding; params are min/max aggregates (no accumulation-order
  // sensitivity), so the whole tier is bit-reproducible.

  /** Build the SQ8 index under `dir`:
    *   dir/sq_params — 1 row: per-dim mins + scales (array<double>);
    *   dir/sq_codes  — (vec_id, codes array<int> in 0..255), the
    *                   4x-smaller first-pass table. */
  def buildSq(spark: SparkSession, embeddings: DataFrame, dir: String): Unit =
    buildSqFromUnits(spark, unitsOf(embeddings).localCheckpoint(), dir)

  private def buildSqFromUnits(spark: SparkSession, units: DataFrame,
                               dir: String): Unit = {
    val params = units.agg(
      array((0 until Dim).map(i => min(element_at(col("u"), i + 1))): _*).as("mins"),
      array((0 until Dim).map(i =>
        (max(element_at(col("u"), i + 1)) - min(element_at(col("u"), i + 1))) / 255.0): _*)
        .as("scales"))
    params.coalesce(1).write.mode("overwrite").parquet(s"$dir/sq_params")
    val p = readTier(spark, s"$dir/sq_params")
    units.crossJoin(broadcast(p))
      .select(col("vec_id"), quantize(col("u"), col("mins"), col("scales")).as("codes"))
      .write.mode("overwrite").parquet(s"$dir/sq_codes")
  }

  /** code_d = round((x_d - min_d) / scale_d) clamped to 0..255;
    * constant dims (scale 0) land on code 0. The clamp is a no-op for
    * vectors inside the grid's min/max (i.e. the corpus the grid was
    * fit on) and gives APPENDED out-of-range vectors the nearest edge
    * code instead of an out-of-domain integer. */
  private[graft] def quantize(u: org.apache.spark.sql.Column,
                              mins: org.apache.spark.sql.Column,
                              scales: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    zip_with(zip_with(u, mins, (x, m) => x - m), scales,
      (d, s) => when(s > 0,
        greatest(lit(0.0), least(lit(255.0), round(d / s, 0))))
        .otherwise(lit(0.0)).cast("int"))

  /** dequant_d = code_d * scale_d + min_d — the first-pass vector. */
  private[graft] def dequantize(codes: org.apache.spark.sql.Column,
                                mins: org.apache.spark.sql.Column,
                                scales: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    zip_with(zip_with(codes, scales, (c, s) => c * s), mins, (v, m) => v + m)

  /** Two-phase quantized top-k: rank the WHOLE corpus on dequantized
    * int8 codes (the 4x-cheaper scan), keep a rerank*k pool, exact
    * float-cosine re-rank only the pool. Output schema matches the
    * other ANN probes. */
  def sqTopK(spark: SparkSession, dir: String, embeddings: DataFrame,
             queryId: Long = 0L, k: Int = 10, rerank: Int = 4): DataFrame = {
    val p = readTier(spark, s"$dir/sq_params")
    val qCodes = embeddings.filter(col("vec_id") === queryId)
      .select(Similarity.unitVector(col("embedding")).as("u"))
      .crossJoin(broadcast(p))
      .select(dequantize(quantize(col("u"), col("mins"), col("scales")),
        col("mins"), col("scales")).as("q_dq"))
    val pool = readTier(spark, s"$dir/sq_codes")
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(p))
      .crossJoin(broadcast(qCodes))
      .select(col("vec_id"),
        Similarity.dot(dequantize(col("codes"), col("mins"), col("scales")), col("q_dq"))
          .as("approx"))
      .orderBy(col("approx").desc, col("vec_id"))
      .limit(rerank * k)
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    pool.select(col("vec_id"))
      .join(embeddings, Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), Similarity.cosine(col("embedding"), col("q_emb")).as("raw_cos"))
      .orderBy(col("raw_cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("raw_cos"), 4).as("cos_sim"))
  }

  /** Compose the two index tiers (the classic IVF-SQ layout): the int8
    * code table written PARTITIONED BY the IVF cell, so a probe reads
    * nProbe partitions OF THE 4x-SMALLER table — partition pruning and
    * quantization multiply. Builds on the persisted ivf + sq artifacts
    * (assignment and codes are read back, not recomputed). */
  /** Build all three index tiers of one corpus in one go, sharing ONE
    * unit-vector projection/checkpoint between the IVF training and
    * the SQ grid+codes (the separate builders each paid their own
    * corpus pass + checkpoint — guide §1.2). Artifact bytes are
    * identical to the separate builders': unitVector is deterministic
    * and every downstream expression is unchanged. */
  def buildIvfSqAll(spark: SparkSession, embeddings: DataFrame,
                    ivfDir: String, sqDir: String, csqDir: String,
                    nCells: Int = 16, lloydIters: Int = 1): Unit = {
    val units = unitsOf(embeddings).localCheckpoint()
    buildIvfFromUnits(spark, embeddings, units, ivfDir, nCells, lloydIters)
    buildSqFromUnits(spark, units, sqDir)
    buildIvfSq(spark, ivfDir, sqDir, csqDir)
  }

  def buildIvfSq(spark: SparkSession, ivfDir: String, sqDir: String,
                 outDir: String): Unit =
    readTier(spark, s"$ivfDir/cells").select(col("vec_id"), col("cell"))
      .join(readTier(spark, s"$sqDir/sq_codes"), Seq("vec_id"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$outDir/cells_sq")

  /** IVF-SQ probe: nProbe nearest cells chosen from the centroid table
    * (as probeIvf), the first pass ranks ONLY those cells' int8 codes
    * (dequantized dot), and the exact float re-rank touches just a
    * rerank*k pool fetched by id via a broadcast join. At 100 TB the
    * first pass reads nProbe partitions of the code table — the
    * cheapest possible candidate scan this side of losing recall. */
  def probeIvfSq(spark: SparkSession, ivfDir: String, sqDir: String,
                 ivfSqDir: String, embeddings: DataFrame, queryId: Long = 0L,
                 k: Int = 10, nProbe: Int = 4, rerank: Int = 4): DataFrame = {
    val cells = probeCellsForQuery(spark, ivfDir, embeddings, queryId, nProbe)
    require(cells.nonEmpty, s"probeIvfSq: query vec_id=$queryId not found")

    val p = readTier(spark, s"$sqDir/sq_params")
    val qDq = embeddings.filter(col("vec_id") === queryId)
      .select(Similarity.unitVector(col("embedding")).as("u"))
      .crossJoin(broadcast(p))
      .select(dequantize(quantize(col("u"), col("mins"), col("scales")),
        col("mins"), col("scales")).as("q_dq"))
    val pool = readTier(spark, s"$ivfSqDir/cells_sq")
      .filter(col("cell").isin(cells: _*) && col("vec_id") =!= queryId)
      .crossJoin(broadcast(p))
      .crossJoin(broadcast(qDq))
      .select(col("vec_id"),
        Similarity.dot(dequantize(col("codes"), col("mins"), col("scales")), col("q_dq"))
          .as("approx"))
      .orderBy(col("approx").desc, col("vec_id"))
      .limit(rerank * k)
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    broadcast(pool.select(col("vec_id")))
      .join(embeddings, Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), Similarity.cosine(col("embedding"), col("q_emb")).as("raw_cos"))
      .orderBy(col("raw_cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("raw_cos"), 4).as("cos_sim"))
  }

  // ---- product-quantized tier (the byte-budget end of the ladder) ----
  //
  // PQ is the standard step past scalar quantization: the unit vector
  // is cut into m subvectors and each subvector is replaced by the id
  // of its nearest per-SUBSPACE centroid — m small codes instead of
  // dim scalars. At the default m=16 subspaces x 32 cells the code
  // payload is 16 x 5-bit ids (~10 B/vector packed, vs 64 int8 codes
  // for SQ8, vs 256 B of float32 raw): the first-pass scan bill drops
  // ~6x below SQ8 and ~26x below raw. Scoring uses the
  // classic ADC table: the query's dot product against every
  // (subspace, centroid) pair is precomputed ONCE into an m*k lookup
  // array (one broadcast row), and a corpus row's approximate cosine
  // is m array lookups + a sum — no float vector is touched until the
  // exact re-rank of the rerank*k pool. Like the SQ tier, recall is
  // GATED, not assumed.

  /** (vec_id, sub, sv): unit vectors cut into m contiguous
    * subvectors of Dim/m dims; sub is 0-based. */
  private def subvectors(units: DataFrame, m: Int): DataFrame = {
    val subDim = Dim / m
    units.select(col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        s0 => slice(col("u"), s0 * subDim + 1, lit(subDim)))).as(Seq("sub", "sv")))
  }

  /** Nearest-centroid assignment per (vector, subspace): one broadcast
    * join on sub + the struct-min argmax — assignCells generalized to
    * the (sub, cell) key. Ranking by (-2 sv·c + c·c) is rank-identical
    * to the true L2 distance (sv·sv is constant per row). */
  private def assignPqCells(sv: DataFrame, cents: DataFrame): DataFrame = {
    val d = graft.functions.VectorFns.dot(col("centroid"), col("centroid")) -
      lit(2.0) * graft.functions.VectorFns.dot(col("sv"), col("centroid"))
    sv.join(broadcast(cents), Seq("sub"))
      .select(col("vec_id"), col("sub"),
        struct(d.as("d"), col("cell").as("c")).as("sc"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(col("sc")).as("m"))
      .select(col("vec_id"), col("sub"), col("m.c").as("cell"))
  }

  /** All m subspace codebooks trained in ONE dataflow per Lloyd pass:
    * seeds are the nCents hash-sampled vectors' subvectors (numbered
    * 1..nCents per subspace), each pass is assign -> per-(sub, cell)
    * DECIMAL-exact mean; empty cells keep their previous centroid.
    * Same bit-stability discipline as trainCentroids. */
  private[graft] def trainPqCentroids(units: DataFrame, m: Int, nCents: Int,
                                      iters: Int): DataFrame = {
    val sv = subvectors(units, m).localCheckpoint()
    val seedIds = units
      .orderBy(hash(col("vec_id")), col("vec_id"))
      .limit(nCents)
      .withColumn("cell",
        row_number().over(Window.orderBy(hash(col("vec_id")), col("vec_id"))))
      .select(col("vec_id"), col("cell"))
    var cents = sv.join(seedIds, Seq("vec_id"))
      .select(col("sub"), col("cell"), col("sv").as("centroid"))
      .localCheckpoint()
    for (_ <- 0 until iters) {
      val assigned = assignPqCells(sv, cents)
      val sums = (0 until Dim / m).map(i =>
        sum(element_at(col("sv"), i + 1).cast(DecimalType(28, 10)))
          .cast(DoubleType).as(s"s$i"))
      val refined = sv.join(assigned, Seq("vec_id", "sub"))
        .groupBy(col("sub"), col("cell"))
        .agg(sums.head, sums.tail :+ count(lit(1)).as("n"): _*)
        .select(col("sub"), col("cell"),
          array((0 until Dim / m).map(i => col(s"s$i") / col("n")): _*).as("refined"))
      cents = cents.join(refined, Seq("sub", "cell"), "left")
        .select(col("sub"), col("cell"),
          coalesce(col("refined"), col("centroid")).as("centroid"))
        .localCheckpoint()
    }
    cents
  }

  /** Build the PQ index under `dir`:
    *   dir/pq_centroids — (sub, cell, centroid[PqSub]), m*nCents rows;
    *   dir/pq_codes     — (vec_id, codes array<int> of length m,
    *                      cell ids 1..nCents in subspace order).
    * Codes are assigned from the PERSISTED centroids (the artifact is
    * the contract, as buildIvf). */
  def buildPq(spark: SparkSession, embeddings: DataFrame, dir: String,
              m: Int = 16, nCents: Int = 32, iters: Int = 2): Unit = {
    val units = embeddings
      .select(col("vec_id"), Similarity.unitVector(col("embedding")).as("u"))
      .localCheckpoint()
    trainPqCentroids(units, m, nCents, iters)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/pq_centroids")
    val cback = readTier(spark, s"$dir/pq_centroids")
    assignPqCells(subvectors(units, m), cback)
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("sub"), col("cell")))).as("sc"))
      .select(col("vec_id"),
        transform(col("sc"), e => e.getField("cell")).as("codes"))
      .write.mode("overwrite").parquet(s"$dir/pq_codes")
  }

  /** PQ top-k: ADC first pass over the m-code table (one broadcast
    * m*nCents LUT row; score = m array lookups + sequential sum —
    * codegen'd HOFs, bit-stable order), exact float re-rank of the
    * rerank*k pool only. Output schema matches the other ANN probes. */
  /** The query's ADC lookup table as ONE broadcast row: entry
    * (sub, cell) = query-subvector · centroid, landing at array
    * position sub*nCents + cell (1-based after the idx sort) — a
    * corpus row's lookup needs no arithmetic beyond its own code. */
  private def pqLutRow(cents: DataFrame, embeddings: DataFrame, queryId: Long,
                       m: Int, nCents: Int): DataFrame = {
    val subDim = Dim / m
    val qsv = embeddings.filter(col("vec_id") === queryId)
      .select(Similarity.unitVector(col("embedding")).as("u"))
      .select(posexplode(transform(sequence(lit(0), lit(m - 1)),
        s0 => slice(col("u"), s0 * subDim + 1, lit(subDim)))).as(Seq("sub", "sv")))
    qsv.join(broadcast(cents), Seq("sub"))
      .select(struct((col("sub") * nCents + col("cell")).as("idx"),
        graft.functions.VectorFns.dot(col("sv"), col("centroid")).as("d")).as("e"))
      .agg(sort_array(collect_list(col("e"))).as("es"))
      .select(transform(col("es"), e => e.getField("d")).as("lut"))
  }

  /** ADC score of a `codes` row against the broadcast `lut` column:
    * m array lookups + a sequential sum (codegen'd HOFs). */
  private def pqScore(m: Int, nCents: Int): org.apache.spark.sql.Column =
    aggregate(
      zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
        (code, s0) => element_at(col("lut"), s0 * nCents + code)),
      lit(0.0), (acc, x) => acc + x)

  /** Exact float-cosine re-rank of a (vec_id) candidate pool — the
    * shared tail of every quantized probe. */
  private def exactRerank(pool: DataFrame, embeddings: DataFrame,
                          queryId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    pool.select(col("vec_id"))
      .join(embeddings, Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), Similarity.cosine(col("embedding"), col("q_emb")).as("raw_cos"))
      .orderBy(col("raw_cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("raw_cos"), 4).as("cos_sim"))
  }

  def pqTopK(spark: SparkSession, dir: String, embeddings: DataFrame,
             queryId: Long = 0L, k: Int = 10, rerank: Int = 8,
             m: Int = 16, nCents: Int = 32): DataFrame = {
    val lutRow = pqLutRow(readTier(spark, s"$dir/pq_centroids"),
      embeddings, queryId, m, nCents)
    val pool = readTier(spark, s"$dir/pq_codes")
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(lutRow))
      .select(col("vec_id"), pqScore(m, nCents).as("approx"))
      .orderBy(col("approx").desc, col("vec_id"))
      .limit(rerank * k)
    exactRerank(pool, embeddings, queryId, k)
  }

  /** Compose IVF partition pruning with PQ codes — the classic IVFPQ
    * layout: the m-code table written PARTITIONED BY the IVF cell, so
    * a probe ADC-scans nProbe partitions OF the smallest code tier.
    * Pruning and product quantization multiply: at 100 TB the first
    * pass reads nProbe directories of a ~10 B/vector table. */
  def buildIvfPq(spark: SparkSession, ivfDir: String, pqDir: String,
                 outDir: String): Unit =
    readTier(spark, s"$ivfDir/cells").select(col("vec_id"), col("cell"))
      .join(readTier(spark, s"$pqDir/pq_codes"), Seq("vec_id"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$outDir/cells_pq")

  /** IVFPQ probe: nProbe nearest cells from the IVF centroid table,
    * ADC first pass over ONLY those cells' PQ codes, exact float
    * re-rank of the rerank*k pool. */
  def probeIvfPq(spark: SparkSession, ivfDir: String, pqDirS: String,
                 ivfPqDir: String, embeddings: DataFrame, queryId: Long = 0L,
                 k: Int = 10, nProbe: Int = 12, rerank: Int = 8,
                 m: Int = 16, nCents: Int = 32): DataFrame = {
    val cells = probeCellsForQuery(spark, ivfDir, embeddings, queryId, nProbe)
    require(cells.nonEmpty, s"probeIvfPq: query vec_id=$queryId not found")
    val lutRow = pqLutRow(readTier(spark, s"$pqDirS/pq_centroids"),
      embeddings, queryId, m, nCents)
    val pool = readTier(spark, s"$ivfPqDir/cells_pq")
      .filter(col("cell").isin(cells: _*) && col("vec_id") =!= queryId)
      .crossJoin(broadcast(lutRow))
      .select(col("vec_id"), pqScore(m, nCents).as("approx"))
      .orderBy(col("approx").desc, col("vec_id"))
      .limit(rerank * k)
    exactRerank(pool, embeddings, queryId, k)
  }

  /** Memoized IVFPQ composed layout (built ON the ivf + pq artifacts,
    * which it materializes first if needed). */
  def ivfPqDir(spark: SparkSession, sfDir: String, embeddings: DataFrame,
               nCellsIvf: Int = 16, lloydIters: Int = 1,
               m: Int = 16, nCents: Int = 32, iters: Int = 2): String = {
    val ivf = ivfDir(spark, sfDir, embeddings, nCellsIvf, lloydIters)
    val pq = pqDir(spark, sfDir, embeddings, m, nCents, iters)
    artifact(spark, s"ivfpq:$sfDir:$nCellsIvf:$lloydIters:$m:$nCents:$iters")(
      buildIvfPq(spark, ivf, pq, _))
  }

  /** Memoized PQ index dir for this session + fixture. */
  def pqDir(spark: SparkSession, sfDir: String, embeddings: DataFrame,
            m: Int = 16, nCents: Int = 32, iters: Int = 2): String =
    artifact(spark, s"pq:$sfDir:$m:$nCents:$iters")(
      buildPq(spark, embeddings, _, m, nCents, iters))

  // ---- batch probe (the production many-queries shape) ----

  /** The centroid table as ONE row: `cents`, every (cell, centroid)
    * in cell order. Broadcast beside the queries, it lets each query
    * row choose its own cells map-side (nearestCells). */
  private def centroidRow(centroids: DataFrame): DataFrame =
    centroids.agg(sort_array(collect_list(struct(col("cell"), col("centroid")))).as("cents"))

  /** The nProbe cells whose centroids have the largest dot product
    * with the unit vector `u` (ties: the smaller cell), read from the
    * `cents` column of centroidRow: a per-row sort of nCells
    * (-dot, cell) structs. The dot is the same Similarity.dot as every
    * other cell ranking here, so the choice is bit-identical to a
    * row_number() ranking over the centroid table. */
  private def nearestCells(u: Column, nProbe: Int): Column =
    transform(
      slice(sort_array(transform(col("cents"), c =>
        struct((-Similarity.dot(u, c.getField("centroid"))).as("nd"),
          c.getField("cell").as("cell")))), 1, nProbe),
      _.getField("cell"))

  /** Every query's nProbe nearest cells, computed IN THE PLAN: the
    * queries cross-join the broadcast one-row centroid table and each
    * row ranks the centroids itself (nearestCells) — no per-query
    * driver work and no exchange of query rows; 10^6 queries cost one
    * map-side pass, not 10^6 driver round-trips (the single-query
    * probeCellsFor loop shape). The (query_id, cell) rows it returns
    * are the probe set a cell-partitioned tier is joined with
    * ([[probedTier]]), which prunes that tier to the probed-cell union
    * at run time. */
  private[graft] def assignProbeCells(queryUnits: DataFrame, centroids: DataFrame,
                                      nProbe: Int): DataFrame =
    queryUnits.crossJoin(broadcast(centroidRow(centroids)))
      .select(col("vec_id").as("query_id"), explode(nearestCells(col("u"), nProbe)).as("cell"))

  /** The rows of the cell-partitioned tier at `path` that the probe
    * set's cells hold, each paired with the probe rows of its cell:
    * `tier JOIN broadcast(probe) USING (cell)`. The one mechanism that
    * chooses probed cells for every batch probe: the join's broadcast
    * also prunes the tier's scan to the probed-cell union at run time
    * ([[graft.plans.BroadcastPartitionPruning]] inserts the dynamic
    * partition filter; the scan reuses the broadcast), so the union is
    * never collected to the driver and the probe set is never
    * checkpointed. */
  private def probedTier(spark: SparkSession, path: String, probe: DataFrame): DataFrame =
    readTier(spark, path).join(broadcast(probe), Seq("cell"))

  /** BATCH probe of the persisted IVF-SQ index — the retrieval shape
    * the index exists for (label 10^6 training docs with their nearest
    * eval neighbors, serve per-prompt context): ALL queries assigned
    * their nProbe cells in the plan, ONE join of the (query_id, cell)
    * probe set against the cell-partitioned int8 code table,
    * per-query rerank*k pools and final top-k through the TopKPerKey
    * heap operator, exact float re-rank only on the pools.
    *
    * The whole probe is ONE Spark query: nothing is collected to the
    * driver and nothing is checkpointed. The code-table scan is pruned
    * to the probed-cell union at run time, from the broadcast probe set
    * ([[probedTier]]). At 100 TB the first pass reads the probed
    * partitions of the 4x-smaller code table and the candidate join
    * carries (query_id, cell)-keyed rows only — work is
    * O(|Q| * cellSize * nProbe), never O(|Q| * corpus).
    * Queries are drawn from the corpus by `queryPredicate` (the
    * retrieve-from-own-corpus shape; self-matches excluded). */
  def batchProbeIvfSq(spark: SparkSession, ivfDir: String, sqDir: String,
                      ivfSqDir: String, embeddings: DataFrame,
                      queryPredicate: org.apache.spark.sql.Column, k: Int = 5,
                      nProbe: Int = 12, rerank: Int = 4): DataFrame =
    batchProbeIvfSqFrames(spark, ivfDir, sqDir, ivfSqDir, embeddings,
      embeddings.filter(queryPredicate), k, nProbe, rerank)

  /** Frame-shaped batch probe: `queries` need not be a predicate over
    * `corpus` — the streaming ingest path probes the standing index
    * with vectors that are NOT yet in it (they append right after).
    * `corpus` serves only the exact re-rank lookups of pool candidate
    * ids; candidates themselves come from the index partitions.
    *
    * The centroids and the SQ8 grid ride ONE broadcast index row; each
    * query row carries its first-pass vector `q_dq` and its probe
    * `cells`, and the exploded (query_id, cell, q_dq) rows are the
    * probe set of the pruned code-table join. */
  def batchProbeIvfSqFrames(spark: SparkSession, ivfDir: String, sqDir: String,
                            ivfSqDir: String, corpus: DataFrame,
                            queries: DataFrame, k: Int = 5,
                            nProbe: Int = 12, rerank: Int = 4): DataFrame = {
    // every join inside the probe set carries its broadcast hint: the
    // run-time pruning reuses the probe set's broadcast only while the
    // plan that builds it is the one planned up front
    val params = broadcast(readTier(spark, s"$sqDir/sq_params"))
    val index = broadcast(centroidRow(readTier(spark, s"$ivfDir/centroids")).crossJoin(params))
    // query side rides the SAME quantization grid as the corpus codes
    val probe = queries
      .select(col("vec_id").as("query_id"), Similarity.unitVector(col("embedding")).as("u"))
      .crossJoin(index)
      .select(col("query_id"),
        dequantize(quantize(col("u"), col("mins"), col("scales")),
          col("mins"), col("scales")).as("q_dq"),
        explode(nearestCells(col("u"), nProbe)).as("cell"))

    val pool = probedTier(spark, s"$ivfSqDir/cells_sq", probe)
      .filter(col("query_id") =!= col("vec_id"))
      .crossJoin(params)
      .select(col("query_id"), col("vec_id"),
        Similarity.dot(dequantize(col("codes"), col("mins"), col("scales")), col("q_dq"))
          .as("approx"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("approx").desc, col("vec_id"))))
      .filter(col("rnk") <= rerank * k)
      .select(col("query_id"), col("vec_id"))

    val qExact = queries.select(col("vec_id").as("query_id"),
      Similarity.unitVector(col("embedding")).as("q_unit"))
    pool
      .join(corpus.select(col("vec_id"),
        Similarity.unitVector(col("embedding")).as("c_unit")), Seq("vec_id"))
      .join(broadcast(qExact), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        Similarity.dot(col("q_unit"), col("c_unit")).as("raw_cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("raw_cos").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("raw_cos"), 4).as("cos_sim"))
      .transform(inAnswerOrder)
  }

  /** The |Q| x k answer rows in (query_id, rank) order, gathered into
    * one partition: a range exchange would cost a sampling job first,
    * and the answer is collected whole anyway. */
  private def inAnswerOrder(answer: DataFrame): DataFrame =
    answer.repartition(1).orderBy("query_id", "rank")

  /** Batch recall gate for the IVF-SQ index (the annBatchRecallGate
    * pattern): output = the exact brute-force batch top-k (fully
    * SQL-recomputable), `batch_recall_ok` TRUE iff the batch index
    * probe found >= `bound` of all exact (query, neighbor) pairs. */
  def batchIvfSqRecallGate(spark: SparkSession, ivfDir: String, sqDir: String,
                           ivfSqDir: String, embeddings: DataFrame,
                           queryPredicate: org.apache.spark.sql.Column, k: Int = 5,
                           bound: Double = 0.9, nProbe: Int = 12,
                           rerank: Int = 4): DataFrame = {
    val exact = Similarity.batchTopKExact(embeddings, embeddings.filter(queryPredicate), k)
      .localCheckpoint()
    val ann = batchProbeIvfSq(spark, ivfDir, sqDir, ivfSqDir, embeddings,
      queryPredicate, k, nProbe, rerank)
    val (total, hits) = Similarity.totalAndHits(exact, ann, Seq("query_id", "vec_id"))
    exact.withColumn("batch_recall_ok",
      lit(total == 0L || hits.toDouble / total >= bound))
  }

  /** BATCH probe of the composed IVFPQ layout — the many-queries shape
    * on the SMALLEST code tier: cells assigned per query by the
    * broadcast-centroid argmax (assignProbeCells), each query's ADC
    * lookup table built as ONE row of a broadcast (query_id, lut)
    * table — the per-query LUT generalizes exactly like the probe-cell
    * argmax did — then one join against the pruned cells_pq partitions
    * scores every (query, candidate) pair with m array lookups. One
    * Spark query: the cells_pq scan is pruned to the probed-cell union
    * at run time from the broadcast probe set ([[probedTier]]), with
    * no driver collect. */
  def batchProbeIvfPq(spark: SparkSession, ivfDir: String, pqDirS: String,
                      ivfPqDir: String, embeddings: DataFrame,
                      queryPredicate: org.apache.spark.sql.Column, k: Int = 5,
                      nProbe: Int = 12, rerank: Int = 8,
                      m: Int = 16, nCents: Int = 32): DataFrame = {
    val queries = embeddings.filter(queryPredicate)
    val qUnits = queries
      .select(col("vec_id"), Similarity.unitVector(col("embedding")).as("u"))
    val probe = assignProbeCells(qUnits, readTier(spark, s"$ivfDir/centroids"), nProbe)

    val subDim = Dim / m
    val cents = readTier(spark, s"$pqDirS/pq_centroids")
    val qsv = qUnits.select(col("vec_id").as("query_id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        s0 => slice(col("u"), s0 * subDim + 1, lit(subDim)))).as(Seq("sub", "sv")))
    val luts = qsv.join(broadcast(cents), Seq("sub"))
      .select(col("query_id"), struct((col("sub") * nCents + col("cell")).as("idx"),
        graft.functions.VectorFns.dot(col("sv"), col("centroid")).as("d")).as("e"))
      .groupBy(col("query_id"))
      .agg(sort_array(collect_list(col("e"))).as("es"))
      .select(col("query_id"), transform(col("es"), e => e.getField("d")).as("lut"))

    val pool = probedTier(spark, s"$ivfPqDir/cells_pq", probe)
      .filter(col("query_id") =!= col("vec_id"))
      .join(broadcast(luts), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), pqScore(m, nCents).as("approx"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("approx").desc, col("vec_id"))))
      .filter(col("rnk") <= rerank * k)
      .select(col("query_id"), col("vec_id"))

    val qExact = queries.select(col("vec_id").as("query_id"),
      Similarity.unitVector(col("embedding")).as("q_unit"))
    pool
      .join(embeddings.select(col("vec_id"),
        Similarity.unitVector(col("embedding")).as("c_unit")), Seq("vec_id"))
      .join(broadcast(qExact), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        Similarity.dot(col("q_unit"), col("c_unit")).as("raw_cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("raw_cos").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("raw_cos"), 4).as("cos_sim"))
      .transform(inAnswerOrder)
  }

  /** Batch recall gate for the IVFPQ batch probe (annBatchRecallGate
    * pattern): output = exact brute-force batch top-k, gate TRUE iff
    * the batch probe found >= `bound` of all exact pairs. */
  def batchIvfPqRecallGate(spark: SparkSession, ivfDir: String, pqDirS: String,
                           ivfPqDir: String, embeddings: DataFrame,
                           queryPredicate: org.apache.spark.sql.Column, k: Int = 5,
                           bound: Double = 0.9, nProbe: Int = 12,
                           rerank: Int = 8): DataFrame = {
    val exact = Similarity.batchTopKExact(embeddings, embeddings.filter(queryPredicate), k)
      .localCheckpoint()
    val ann = batchProbeIvfPq(spark, ivfDir, pqDirS, ivfPqDir, embeddings,
      queryPredicate, k, nProbe, rerank)
    val (total, hits) = Similarity.totalAndHits(exact, ann, Seq("query_id", "vec_id"))
    exact.withColumn("batch_recall_ok",
      lit(total == 0L || hits.toDouble / total >= bound))
  }

  // ---- incremental maintenance (append without rebuild) ----

  /** Append NEW vectors to a persisted IVF layout: assignment uses the
    * EXISTING centroid table (broadcast-join argmax — no retraining),
    * and only the delta rows are written (append mode) into the cell
    * partitions. The centroid artifact is untouched; at 100 TB this is
    * the nightly-ingest path — delta-sized work against a corpus-sized
    * index. Centroid drift under sustained appends is a rebuild
    * trigger, not an append concern (the standard IVF maintenance
    * contract). */
  def appendIvf(spark: SparkSession, dir: String, delta: DataFrame): Unit =
    appendIvfFromUnits(spark, dir, delta, unitsOf(delta))

  private def appendIvfFromUnits(spark: SparkSession, dir: String,
                                 delta: DataFrame, units: DataFrame): Unit = {
    val assigned = assignCells(units, readTier(spark, s"$dir/centroids"))
    delta.join(assigned, Seq("vec_id"))
      .write.partitionBy("cell").mode("append").parquet(s"$dir/cells")
  }

  /** Append to the SQ8 layout with the EXISTING quantization grid (the
    * params artifact is read, never recomputed — codes stay comparable
    * across the whole table). Delta values outside the corpus min/max
    * clamp to the grid edge (quantize's 0..255 clamp), costing those
    * dims resolution, not correctness: the exact float re-rank still
    * orders the final k. */
  def appendSq(spark: SparkSession, dir: String, delta: DataFrame): Unit =
    appendSqFromUnits(spark, dir, unitsOf(delta))

  private def deltaCodes(spark: SparkSession, sqDir: String,
                         units: DataFrame): DataFrame =
    units.crossJoin(broadcast(readTier(spark, s"$sqDir/sq_params")))
      .select(col("vec_id"), quantize(col("u"), col("mins"), col("scales")).as("codes"))

  private def appendSqFromUnits(spark: SparkSession, dir: String,
                                units: DataFrame): Unit =
    deltaCodes(spark, dir, units)
      .write.mode("append").parquet(s"$dir/sq_codes")

  /** Append the delta into the composed IVF-SQ layout: the delta's
    * cell assignments and int8 codes are recomputed DIRECTLY from the
    * persisted centroid table and quantization grid (the same
    * deterministic expressions [[appendIvf]]/[[appendSq]] write, so the
    * values are identical to a read-back join) and appended into the
    * cell partitions of `cells_sq`. The old spelling re-read the ENTIRE
    * `cells` and `sq_codes` trees per append just to semi-join the
    * delta ids back out — two corpus-sized scans for delta-sized output
    * (guide §1.2/§6: at 100 TB the nightly append must touch
    * O(delta) + two k-row artifacts, never the standing index). */
  def appendIvfSq(spark: SparkSession, ivfDir: String, sqDir: String,
                  outDir: String, delta: DataFrame): Unit =
    appendIvfSqFromUnits(spark, ivfDir, sqDir, outDir, unitsOf(delta))

  private def appendIvfSqFromUnits(spark: SparkSession, ivfDir: String,
                                   sqDir: String, outDir: String,
                                   units: DataFrame): Unit = {
    // one aggregate, one exchange: the unit vector rides the argmax
    // aggregate (first(u) — u is functionally dependent on vec_id, so
    // the value is deterministic) and the codes compute post-agg; an
    // assigned ⋈ codes self-join spelling costs a second exchange of
    // the same delta rows. Assignment arithmetic = assignCells's
    // exactly (same struct-min over the same broadcast centroids).
    val withCell = units
      .crossJoin(broadcast(readTier(spark, s"$ivfDir/centroids")))
      .select(col("vec_id"), col("u"),
        struct((-Similarity.dot(col("u"), col("centroid"))).as("nd"),
          col("cell").as("c")).as("sc"))
      .groupBy(col("vec_id"))
      .agg(min(col("sc")).as("m"), first(col("u")).as("u"))
      .select(col("vec_id"), col("m.c").as("cell"), col("u"))
    val rows = withCell
      .crossJoin(broadcast(readTier(spark, s"$sqDir/sq_params")))
      .select(col("vec_id"), col("cell"),
        quantize(col("u"), col("mins"), col("scales")).as("codes"))
    graft.ops.PlanDump.dump("ann_append_ivfsq", rows)
    rows.write.partitionBy("cell").mode("append").parquet(s"$outDir/cells_sq")
  }

  /** All three incremental appends in ONE delta-sized pass: the unit
    * vectors are computed and checkpointed once and feed the cell
    * assignment, the int8 codes, and the composed rows — the trio
    * spelling paid three unit projections plus [[appendIvfSq]]'s two
    * corpus scans per batch (guide §1.2). Every tier keys its rows by
    * `vec_id`, so a delta that repeats an id is refused before any
    * tier is written (the composed tier's per-id aggregate would pair
    * one embedding's cell with another's codes). */
  def appendAll(spark: SparkSession, ivfDir: String, sqDir: String,
                csqDir: String, delta: DataFrame): Unit = {
    val units = unitsOf(delta).localCheckpoint()
    units.groupBy(col("vec_id")).count().filter(col("count") > 1).head(1)
      .foreach(r => throw new IllegalArgumentException(
        s"ANN append delta repeats vec_id ${r.get(0)}; ids must be unique"))
    appendIvfFromUnits(spark, ivfDir, delta, units)
    appendSqFromUnits(spark, sqDir, units)
    appendIvfSqFromUnits(spark, ivfDir, sqDir, csqDir, units)
  }

  /** Memoized append-demo artifact: the corpus MINUS every 10th vector
    * is indexed (ivf + sq + composed), then the held-out tenth is
    * APPENDED via the incremental paths — existing centroids, existing
    * grid, delta-only writes. Probing this index must surface the
    * appended vectors' neighborhoods (q_ann_ivf_append's gate). */
  def appendDemoDir(spark: SparkSession, sfDir: String, embeddings: DataFrame): String =
    artifact(spark, s"ivfappend:$sfDir") { d =>
      val corpus = embeddings.filter(col("vec_id") % 10 =!= 9)
      val delta = embeddings.filter(col("vec_id") % 10 === 9)
      buildIvfSqAll(spark, corpus, s"$d/ivf", s"$d/sq", s"$d/csq")
      appendAll(spark, s"$d/ivf", s"$d/sq", s"$d/csq", delta)
    }

  /** ANN-ROUTED semantic decontamination — the scale path
    * `Similarity.embeddingDecontaminate`'s own docs promise: for eval
    * sets too large to pair against every training vector (10^5+
    * benchmark vectors vs 10^9+ training vectors), route through the
    * persisted IVF index instead of the all-pairs crossJoin. Every
    * eval vector's nProbe cells come from the ONE broadcast-centroid
    * argmax join (assignProbeCells — zero per-query driver work); the
    * corpus scan is pruned to the probed-cell union at run time
    * ([[probedTier]] — no driver collect); a training vector
    * only meets the eval vectors probing its OWN cell, so pair work is
    * O(sum_cell |train_cell| x |eval probing cell|), not
    * O(|train| x |eval|). Exact cosines on the float vectors, then
    * threshold + per-training-vector aggregate — the same
    * (n_eval_hits, max_eval_cos) report as the broadcast spelling,
    * RESTRICTED to contaminated rows (for a contaminated vector the
    * global max IS a hit, so the two spellings agree row-for-row on
    * that set; an uncontaminated vector's sub-threshold max is exactly
    * what the routed path never computes — that's the saving).
    *
    * Completeness contract: a contaminated pair is found iff the
    * training vector's cell is among its eval vector's nProbe probed
    * cells — same recall character as every IVF row, and at a LOW
    * range threshold it bites harder than top-k probing does (a
    * near-threshold pair can sit ~acos(0.4)=66 deg from the query,
    * outside its nearest cells: measured on the fixtures,
    * nProbe=12/16 finds 42/46 over-threshold pairs at sf0.1 and all
    * pairs at sf0.001/0.01; the worst-case triangle-inequality cell
    * bound prunes nothing here because fixture cell radii are ~85
    * deg). So the registered row wraps this in the standard recall
    * GATE (`decontaminateRoutedGate`) rather than claiming parity.
    * The eval-side broadcast hints are fixture-scale hints; at 10^6+
    * eval vectors drop them and let the (query_id)-keyed joins
    * shuffle. */
  def decontaminateRouted(spark: SparkSession, ivfDir: String,
                          embeddings: DataFrame, threshold: Double = 0.4,
                          nProbe: Int = 12): DataFrame = {
    val qUnits = embeddings.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id"), Similarity.unitVector(col("embedding")).as("u"))
    val probe = assignProbeCells(qUnits, readTier(spark, s"$ivfDir/centroids"), nProbe)
    val qExact = qUnits.select(col("vec_id").as("query_id"), col("u").as("q_unit"))
    probedTier(spark, s"$ivfDir/cells", probe)
      .filter(col("vec_id") % 40 =!= 0)
      .select(col("vec_id"), col("query_id"),
        Similarity.unitVector(col("embedding")).as("t_unit"))
      .join(broadcast(qExact), Seq("query_id"))
      .select(col("vec_id"), Similarity.dot(col("t_unit"), col("q_unit")).as("raw_cos"))
      .filter(col("raw_cos") >= threshold)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_eval_hits"),
        round(max(col("raw_cos")), 4).as("max_eval_cos"))
      .withColumn("contaminated", col("n_eval_hits") > 0)
      .orderBy("vec_id")
  }

  /** Recall gate for the routed decontamination (the annRecallGate
    * pattern): output = the EXACT contaminated report (broadcast
    * spelling, fully SQL-recomputable), `ann_routed_ok` TRUE iff the
    * routed probe recovered >= `bound` of all exact over-threshold
    * (train, eval) pairs. Routed pairs are a SUBSET of exact pairs by
    * construction (both filter exact cosines; routing only restricts
    * candidate generation), so recall is a count ratio — no pair join
    * needed. On a production corpus the routed frame is the product
    * and the exact side is the validation harness run at sample
    * scale. */
  def decontaminateRoutedGate(spark: SparkSession, ivfDir: String,
                              embeddings: DataFrame, threshold: Double = 0.4,
                              nProbe: Int = 14, bound: Double = 0.9): DataFrame = {
    val exact = Similarity.embeddingDecontaminate(embeddings, threshold)
      .filter(col("contaminated")).localCheckpoint()
    val totalPairs = Option(exact.agg(sum(col("n_eval_hits"))).collect()(0).get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val routedPairs = Option(
      decontaminateRouted(spark, ivfDir, embeddings, threshold, nProbe)
        .agg(sum(col("n_eval_hits"))).collect()(0).get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    exact.withColumn("ann_routed_ok",
      lit(totalPairs == 0L || routedPairs.toDouble / totalPairs >= bound))
  }

  /** Compaction demo artifact (round-9 verdict task 5): the append
    * demo leaves one delta file per append per cell, and at ingest
    * cadence probe cost creeps with file count. This artifact COPIES
    * the append-demo index (the shared append artifact keeps its
    * fragmented shape for its own spec), records the pre-compaction
    * probe answer and file counts, then compacts BOTH cell-partitioned
    * trees via `Compaction.compactPartitioned` — per-cell file
    * budgets, one shuffle, centroid/grid artifacts untouched. The
    * registered query gates on (a) probe-vs-exact recall as usual,
    * (b) bit-identical probe results across the rewrite, (c) the file
    * count actually dropping. */
  def compactDemoDir(spark: SparkSession, sfDir: String,
                     embeddings: DataFrame): String =
    artifact(spark, s"ivfcompact:$sfDir") { d =>
      val src = appendDemoDir(spark, sfDir, embeddings)
      copyTree(new java.io.File(src), new java.io.File(d))
      probeIvfSq(spark, s"$d/ivf", s"$d/sq", s"$d/csq", embeddings,
        queryId = 17L, k = 10, nProbe = 12)
        .write.mode("overwrite").parquet(s"$d/probe_pre")
      val (ib, ia) = graft.sink.Compaction.compactPartitioned(
        spark, s"$d/ivf/cells", "cell", "vec_id")
      val (cb, ca) = graft.sink.Compaction.compactPartitioned(
        spark, s"$d/csq/cells_sq", "cell", "vec_id")
      import spark.implicits._
      Seq((ib, ia, cb, ca))
        .toDF("ivf_files_before", "ivf_files_after",
          "csq_files_before", "csq_files_after")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/report")
    }

  private def copyTree(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      val children = src.listFiles()
      if (children != null) children.foreach(c => copyTree(c, new java.io.File(dst, c.getName)))
    } else {
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
  }

  // ---- per-session artifact cache ----

  // Weak-keyed on the session (long-lived processes that cycle sessions
  // must not retain dirs); inner map keyed by sfDir + params so every
  // registered query of a run shares one build per configuration.
  private val cache = new java.util.WeakHashMap[
    SparkSession, scala.collection.mutable.Map[String, String]]()

  // File.deleteOnExit is a silent no-op on non-empty directories, so a
  // long-lived driver would leak one parquet tree per (session, config)
  // under /tmp; a single JVM shutdown hook deletes every registered
  // temp tree recursively instead.
  private val tempDirs =
    java.util.Collections.synchronizedList(new java.util.ArrayList[java.io.File]())
  private lazy val cleanupHookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tempDirs.forEach { d =>
        try deleteRecursively(d) catch { case _: Throwable => () }
      }))
    true
  }
  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }
  private[llm] def tempArtifactDir(prefix: String): java.io.File = {
    require(cleanupHookInstalled)
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(d)
    d
  }

  private[llm] def artifact(spark: SparkSession, key: String)(build: String => Unit): String = {
    val m = cache.synchronized {
      var mm = cache.get(spark)
      if (mm == null) { mm = scala.collection.mutable.Map.empty[String, String]; cache.put(spark, mm) }
      mm
    }
    // builds serialized per session: first toucher pays, others reuse
    m.synchronized {
      m.getOrElseUpdate(key, {
        val d = tempArtifactDir("graft_annindex_")
        build(d.toString)
        d.toString
      })
    }
  }

  /** Retention sweep for the memoized artifact cache (round-10 verdict
    * task 5 — the vacuum discipline of the dedup epoch chain and the
    * IVF cell compaction applied to the artifact store itself): drop
    * every cached artifact of `spark` whose key does NOT satisfy
    * `retain` — the parquet tree is deleted and the cache entry
    * removed, so a later request REBUILDS on demand through the normal
    * memoization path. Keys are the artifact identities
    * (`bm25:<semanticHash>`, `bpe:<semanticHash>:<n>`,
    * `ivf:<sfDir>:...`), so the standard sweep after a corpus version
    * rolls over is `retain = _.contains(liveHash)` — artifacts whose
    * source plan hash is no longer referenced reclaim their storage.
    * A long-lived serving session otherwise accumulates one tree per
    * corpus version it ever touched; this bounds that, exactly as
    * `IncrementalDeduper.vacuum` bounds the epoch chain.
    * @return (droppedKeys, keptKeys), each sorted. */
  def vacuumArtifacts(spark: SparkSession,
                      retain: String => Boolean): (Seq[String], Seq[String]) = {
    val m = cache.synchronized { Option(cache.get(spark)) }
    m match {
      case None => (Nil, Nil)
      case Some(mm) => mm.synchronized {
        val (keep, drop) = mm.toSeq.partition { case (k, _) => retain(k) }
        drop.foreach { case (k, dir) =>
          mm.remove(k)
          val f = new java.io.File(dir)
          try deleteRecursively(f) catch { case _: Throwable => () }
          tempDirs.remove(f): Unit
        }
        (drop.map(_._1).sorted, keep.map(_._1).sorted)
      }
    }
  }

  /** Memoized IVF index dir for this session + fixture. */
  def ivfDir(spark: SparkSession, sfDir: String, embeddings: DataFrame,
             nCells: Int = 16, lloydIters: Int = 1): String =
    artifact(spark, s"ivf:$sfDir:$nCells:$lloydIters")(
      buildIvf(spark, embeddings, _, nCells, lloydIters))

  /** Memoized LSH signature table for this session + fixture. */
  def lshSignatures(spark: SparkSession, sfDir: String, embeddings: DataFrame,
                    numPlanes: Int = 4, numTables: Int = 6): DataFrame = {
    val dir = artifact(spark, s"lsh:$sfDir:$numPlanes:$numTables")(
      d => buildLsh(embeddings, s"$d/lsh", numPlanes, numTables))
    readTier(spark, s"$dir/lsh")
  }

  /** Memoized SQ8 index dir for this session + fixture. */
  def sqDir(spark: SparkSession, sfDir: String, embeddings: DataFrame): String =
    artifact(spark, s"sq8:$sfDir")(buildSq(spark, embeddings, _))

  /** Memoized IVF-SQ composed layout (built ON the ivf + sq artifacts,
    * which it materializes first if needed). */
  def ivfSqDir(spark: SparkSession, sfDir: String, embeddings: DataFrame,
               nCells: Int = 16, lloydIters: Int = 1): String = {
    val ivf = ivfDir(spark, sfDir, embeddings, nCells, lloydIters)
    val sq = sqDir(spark, sfDir, embeddings)
    artifact(spark, s"ivfsq:$sfDir:$nCells:$lloydIters")(
      buildIvfSq(spark, ivf, sq, _))
  }
}
