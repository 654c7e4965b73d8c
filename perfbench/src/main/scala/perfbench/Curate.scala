package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import perfbench.Gen.Doc

/** The LLM-data operators. Set-up preloads a clean corpus table and
  * builds its IVF-SQ index. Each round one document shard arrives as a
  * write: incremental dedup against the standing corpus, the quality and
  * language gates, PII redaction, then an append to the corpus table and
  * to the index. The reads are batch top-k ANN probes; a round is one
  * shard and three probes. */
final class Curate(spark: SparkSession, rec: Recorder, seed: Long, dir: File) extends Workload {

  private val PreloadDocs = 600
  private val ShardDocs = 300
  private val WarmupDocs = 40
  private val ProbesPerRead = 16
  private val K = 5
  private val NProbe = 4
  private val Threshold = 0.7
  /** Recall of the index's top-k against brute force, over the run. */
  private val RecallFloor = 0.9

  private val corpusRoot = new File(dir, "tables/corpus")
  private val annRoot = new File(dir, "ann")
  private val corpus = s"graft.`${corpusRoot.getAbsolutePath}`"
  private def ivf = new File(annRoot, "ivf").getAbsolutePath
  private def sq = new File(annRoot, "sq").getAbsolutePath
  private def csq = new File(annRoot, "csq").getAbsolutePath

  private val gen = new Gen.DocGen(seed)
  private val model = new Models.Corpus
  private val clean = mutable.ArrayBuffer[String]()
  private val stored = mutable.LinkedHashMap[Long, (String, Array[Float])]()
  private val problems = mutable.ArrayBuffer[String]()
  private var shardNo = 0
  private var nextId = PreloadDocs.toLong
  private var timedRows = 0L
  private var probeNo = 0
  private var (hits, wanted) = (0.0, 0.0)
  private var planted = Gen.Planted(0, 0, 0, 0, 0)

  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("embedding", ArrayType(FloatType, containsNull = false))))

  private def frame(docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      docs.map(d => Row(d.id, d.text, d.embedding.toSeq)), 1), docSchema)

  private def store(d: Doc, text: String): Unit = {
    stored(d.id) = (text, d.embedding)
    model.add(text)
    if (text == d.text) clean += text
  }

  locally {
    val g0 = System.nanoTime()
    val docs = gen.preload(PreloadDocs)
    rec.sample("setup.generate_ms", (System.nanoTime() - g0) / 1e6)
    val p0 = System.nanoTime()
    frame(docs).createOrReplaceTempView("curate_preload")
    spark.sql(s"CREATE TABLE $corpus AS SELECT * FROM curate_preload")
    graft.llm.AnnIndex.buildIvfSqAll(spark,
      spark.table(corpus).select(col("doc_id").as("vec_id"), col("embedding")), ivf, sq, csq)
    docs.foreach(d => store(d, d.text))
    rec.sample("setup.preload_ms", (System.nanoTime() - p0) / 1e6)
    // warm-up: a small shard and a probe compile every plan the rounds run
    val w0 = System.nanoTime()
    probe(); write(WarmupDocs)
    rec.sample("setup.warmup_ms", (System.nanoTime() - w0) / 1e6)
  }

  /** What the curation gauntlet should keep of a shard, from the model. */
  private def expected(docs: Seq[Doc]): (Set[Long], Set[Long], Set[Long]) = {
    val exact = docs.filter(d => model.isExact(d.text)).map(_.id).toSet
    val near = docs.filter(d => model.bestJaccard(d.text) >= Threshold).map(_.id).toSet
    val firstOfText = docs.groupBy(_.text).values.map(_.map(_.id).min).toSet
    val kept = docs.filter(d => firstOfText(d.id) && Models.passesQuality(d.text)).map(_.id).toSet
    (exact, near, kept)
  }

  private def write(n: Int): Unit = {
    val (docs, p) = gen.shard(shardNo, nextId, n, clean.toIndexedSeq)
    shardNo += 1
    nextId += docs.size
    planted = Gen.Planted(planted.exactOfCorpus + p.exactOfCorpus, planted.nearOfCorpus + p.nearOfCorpus,
      planted.inShardExact + p.inShardExact, planted.lowQuality + p.lowQuality, planted.pii + p.pii)
    val (wantExact, wantNear, wantKept) = expected(docs)
    val shard = frame(docs)
    val (flags, kept) = rec.op("write", "shard") {
      val flags = rec.span("dedup") {
        val t0 = System.nanoTime()
        val f = graft.llm.Dedup.incrementalDedup(shard, spark.table(corpus).select("doc_id", "text"), Threshold)
          .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
        rec.sample("llm.dedup_ms", (System.nanoTime() - t0) / 1e6)
        f
      }
      val kept = rec.span("filter") {
        val t0 = System.nanoTime()
        val k = graft.llm.Curation.curate(shard.select("doc_id", "text"))
          .filter(col("kept")).select("doc_id").collect().map(_.getLong(0)).toSet
        rec.sample("llm.filter_ms", (System.nanoTime() - t0) / 1e6)
        k
      }
      val survivors = kept.filterNot(id => flags.get(id).exists { case (e, n) => e || n })
      val out = graft.llm.TextOps.redactPii(shard.filter(col("doc_id").isin(survivors.toSeq: _*)), "text")
        .select(col("doc_id"), col("redacted").as("text"), col("embedding"))
      rec.span("append") {
        out.createOrReplaceTempView("curate_shard")
        spark.sql(s"INSERT INTO $corpus SELECT * FROM curate_shard")
      }
      rec.span("ann_append") {
        val t0 = System.nanoTime()
        graft.llm.AnnIndex.appendAll(spark, ivf, sq, csq,
          shard.filter(col("doc_id").isin(survivors.toSeq: _*))
            .select(col("doc_id").as("vec_id"), col("embedding")))
        rec.sample("llm.ann_append_ms", (System.nanoTime() - t0) / 1e6)
      }
      (flags, kept)
    }
    timedRows += docs.size
    val gotExact = flags.collect { case (id, (true, _)) => id }.toSet
    val gotNear = flags.collect { case (id, (_, true)) => id }.toSet
    if (gotExact != wantExact) problems += s"shard ${shardNo - 1}: exact-dup flags differ " +
      s"(got ${gotExact.size}, expected ${wantExact.size})"
    if (gotNear != wantNear) problems += s"shard ${shardNo - 1}: near-dup flags differ " +
      s"(got ${gotNear.size}, expected ${wantNear.size}, missed ${(wantNear -- gotNear).size})"
    if (kept != wantKept) problems += s"shard ${shardNo - 1}: quality gate kept ${kept.size}, expected ${wantKept.size}"
    val survivors = docs.filter(d => wantKept(d.id) && !wantExact(d.id) && !wantNear(d.id))
    survivors.foreach(d => store(d, redact(d.text)))
  }

  private def redact(t: String): String =
    Models.Phone.replaceAllIn(Models.Ipv4.replaceAllIn(Models.Email.replaceAllIn(t, "<EMAIL>"), "<IP>"), "<PHONE>")

  private def probe(): Unit = {
    val vectors = stored.valuesIterator.map(_._2).toIndexedSeq
    val qs = gen.probes(probeNo, vectors, ProbesPerRead).zipWithIndex
      .map { case (v, i) => Doc(1000000000000L + probeNo * 1000L + i, "", v) }
    probeNo += 1
    val queries = frame(qs).select(col("doc_id").as("vec_id"), col("embedding"))
    val got = rec.op("read", "ann_probe", corpus) {
      val t0 = System.nanoTime()
      val g = graft.llm.AnnIndex.batchProbeIvfSqFrames(spark, ivf, sq, csq,
        spark.table(corpus).select(col("doc_id").as("vec_id"), col("embedding")), queries, K, NProbe)
        .collect().groupBy(_.getLong(0)).map { case (q, rows) => q -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
      rec.sample("llm.ann_probe_ms", (System.nanoTime() - t0) / 1e6)
      g
    }
    val all = stored.iterator.map { case (id, (_, v)) => id -> v }.toSeq
    val exact = qs.map(q => q.id -> Models.bruteTopK(q.embedding, all, K)).toMap
    hits += Models.recall(exact, got) * exact.size * K
    wanted += exact.size * K
  }

  def round(): Unit = {
    probe(); write(ShardDocs); probe(); probe()
  }

  def failures: Seq[String] = problems.toSeq

  def verify(): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    val got = spark.sql(s"SELECT doc_id, text FROM $corpus").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    if (got != stored.map { case (id, (t, _)) => id -> t }.toMap)
      out += s"corpus table differs from the curated model (${got.size} docs, expected ${stored.size})"
    val leaks = got.values.count(Models.hasPii)
    if (leaks > 0) out += s"$leaks stored documents still carry PII"
    val texts = got.values.toSeq
    if (texts.distinct.size != texts.size) out += "the corpus keeps an exact duplicate"
    val recall = if (wanted == 0) 1.0 else hits / wanted
    if (recall < RecallFloor) out += f"ANN recall $recall%.3f below the floor $RecallFloor"
    if (planted.exactOfCorpus == 0 || planted.nearOfCorpus == 0 || planted.pii == 0)
      out += s"a planted case never occurred: $planted"
    System.err.println(f"perfbench: curate planted $planted, ANN recall $recall%.4f")
    out.toSeq
  }

  def catalogTables: Seq[String] = Seq(corpus)
  def tableRoots: Seq[File] = Seq(corpusRoot)
  def storageRoots: Seq[File] = Seq(corpusRoot, annRoot)
  def liveRows: Long = stored.size
  def inputRows: Long = timedRows
  def startTimed(): Unit = timedRows = 0L

  def layerMetrics(): Seq[(String, String, Double)] =
    Seq("llm.dedup_ms", "llm.filter_ms", "llm.ann_append_ms", "llm.ann_probe_ms").map(n =>
      (n, "ms", Recorder.median(rec.samples.getOrElse(n, Nil).toSeq)))
}
