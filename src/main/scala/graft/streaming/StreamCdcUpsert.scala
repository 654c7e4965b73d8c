package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sink.ManifestSink

/** Streaming CDC apply — the upsert stream every operational pipeline
  * eventually points at its lakehouse (Delta's streaming MERGE shape):
  * micro-batches of change rows (updates to existing keys + brand-new
  * keys, undifferentiated — upsert semantics resolves them) apply to
  * the manifest table via `ManifestSink.mergeCow`, so each batch is
  * (1) a zone-map-BOUNDED rewrite — only the files an update key
  * touches are rewritten, inserts rewrite nothing — and (2) one
  * ATOMIC epoch carrying the batch's (appId, batchId) txn, so the
  * at-least-once foreachBatch replay applies each batch EXACTLY once.
  *
  * The demo exercises both hard paths, not just the happy one: batch
  * 1's first attempt commits its merge and then dies before Spark's
  * checkpoint commit (the replay window); the restarted query replays
  * it and the txn no-op absorbs it — a double-applied merge would
  * double-double the updated values and break the oracle hash. Batch
  * 1 also UPDATES rows batch 0 only just INSERTED (the
  * insert-then-update sequence real CDC feeds produce).
  *
  * Determinism: MemoryStream pins batch boundaries; upsert apply is
  * order-dependent only across batches (which the checkpoint orders),
  * so the final table replays in SQL as the composed CASE expression
  * the registered oracle spells. */
object StreamCdcUpsert {

  final case class Ev(event_id: Long, user_id: Long, value: Double)

  /** (tableRoot, frame, foreachBatchAttempts). */
  private val cache = DemoMemo.register(java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, (String, DataFrame, Int)]]()))

  def demoWithRoot(spark: SparkSession, sfDir: String): (String, DataFrame, Int) = {
    val m = cache.synchronized {
      var mm = cache.get(spark)
      if (mm == null) {
        mm = scala.collection.mutable.Map.empty[String, (String, DataFrame, Int)]
        cache.put(spark, mm)
      }
      mm
    }
    m.synchronized { m.getOrElseUpdate(sfDir, runImpl(spark, sfDir)) }
  }

  def demo(spark: SparkSession, sfDir: String): DataFrame =
    demoWithRoot(spark, sfDir)._2

  private def runImpl(spark: SparkSession, sfDir: String): (String, DataFrame, Int) = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"))
    val root = java.nio.file.Files.createTempDirectory("graft_cdc_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_ckpt_").toString

    // base table: the % 4 == 0 class, clustered for zone maps
    ManifestSink.publish(
      ev.filter(col("event_id") % 4 === 0)
        .repartitionByRange(8, col("event_id")).sortWithinPartitions("event_id"),
      root, 1, ManifestSink.WriteSpec(Seq("event_id")))

    // batch 0: update a narrow key range of the base + insert a new class
    val batchA = ev.filter(col("event_id") % 4 === 0 && col("event_id") < 300)
      .select(col("event_id"), col("user_id"), (col("value") * 2).as("value"))
      .unionByName(ev.filter(col("event_id") % 4 === 1 && col("event_id") < 300))
      .as[Ev].collect().toSeq
    // batch 1: update the rows batch 0 just inserted + insert another class
    val batchB = ev.filter(col("event_id") % 4 === 1 && col("event_id") < 300)
      .select(col("event_id"), col("user_id"), (col("value") * 2).as("value"))
      .unionByName(ev.filter(col("event_id") % 4 === 2 && col("event_id") < 300))
      .as[Ev].collect().toSeq

    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val crashedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    val appId = "graft_stream_cdc_demo"
    val sink = (batch: DataFrame, id: Long) => {
      attempts.incrementAndGet()
      // idempotent apply: a replayed batchId merges nothing
      if (!ManifestSink.lastCommittedVersion(spark, root, appId).exists(_ >= id)) {
        ManifestSink.mergeCow(spark, root, batch, "event_id", Seq("event_id"),
          txn = Some(ManifestSink.Txn(appId, id)))
        ()
      }
      // crash AFTER the merge commit, BEFORE the checkpoint commit
      if (id == 1L && crashedOnce.compareAndSet(false, true))
        throw new RuntimeException("simulated crash after CDC merge")
      ()
    }

    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    def start() = mem.toDF().writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(sink)
      .start()

    val q1 = start()
    try {
      mem.addData(batchA)
      q1.processAllAvailable()
      mem.addData(batchB)
      try q1.processAllAvailable()
      catch { case _: Exception => () }
    } finally {
      try q1.stop() catch { case _: Exception => () }
    }
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    (root, ManifestSink.read(spark, root).orderBy("event_id"), attempts.get())
  }
}
