package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sink.{IncrementalView, ManifestSink}

/** CONTINUOUS materialized-view maintenance — the full lakehouse loop
  * in one pipeline: a manifest table's CHANGE FEED streams through
  * `format("graft-manifest").option("changeFeedKey", ...)` (the
  * [[graft.catalog.GraftChangesTable]] stream by root), and every
  * micro-batch of change rows folds into the aggregate view via
  * [[IncrementalView.applyDelta]] as one atomic view epoch carrying
  * the batchId as its txn version — so the view is exactly-once under
  * foreachBatch's at-least-once replay (the demo crashes after batch
  * 1's view commit and before Spark's checkpoint commit; the
  * restarted query replays the batch and the txn check no-ops it —
  * a double-applied delta would double-count every changed key and
  * break the hash).
  *
  * Per-trigger cost: the batch's change rows (bounded by its epochs'
  * file deltas) + a keys-sized view merge — the view tracks a 100 TB
  * table at O(changes) per trigger, which is the entire point of
  * maintaining it from the feed instead of recomputing. */
object StreamIvm {

  private val cache = DemoMemo.register(java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, (DataFrame, Int, Int)]]()))

  /** (viewFrame, viewEpochs, foreachBatchAttempts). */
  def demo(spark: SparkSession, sfDir: String): (DataFrame, Int, Int) = {
    val m = cache.synchronized {
      var mm = cache.get(spark)
      if (mm == null) {
        mm = scala.collection.mutable.Map.empty[String, (DataFrame, Int, Int)]
        cache.put(spark, mm)
      }
      mm
    }
    m.synchronized { m.getOrElseUpdate(sfDir, runImpl(spark, sfDir)) }
  }

  private def runImpl(spark: SparkSession, sfDir: String): (DataFrame, Int, Int) = {
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"))
    val root = java.nio.file.Files.createTempDirectory("graft_sivm_").toString
    val view = java.nio.file.Files.createTempDirectory("graft_sivm_view_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sivm_ckpt_").toString
    ManifestSink.publish(
      ev.repartitionByRange(8, col("event_id")).sortWithinPartitions("event_id"),
      root, 1, ManifestSink.WriteSpec(Seq("event_id")))

    val appId = "ivm_stream"
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val crashedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    def start() = spark.readStream
      .format("graft-manifest").option("root", root)
      .option("changeFeedKey", "event_id").load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        attempts.incrementAndGet()
        if (!ManifestSink.lastCommittedVersion(spark, view, appId).exists(_ >= id))
          IncrementalView.applyDelta(spark, view, b, "user_id", "value",
            ManifestSink.Txn(appId, id))
        // crash AFTER the view commit, BEFORE Spark's batch commit —
        // the at-least-once replay window the txn check must absorb
        if (id == 1L && crashedOnce.compareAndSet(false, true))
          throw new RuntimeException("simulated crash after view commit")
        ()
      }.start()

    val q1 = start()
    try {
      q1.processAllAvailable() // batch 0: snapshot-as-inserts
      ManifestSink.mergeCow(spark, root,
        ev.filter(col("event_id") < 100)
          .select(col("event_id"), col("user_id"), (col("value") + 2).as("value")),
        "event_id", Seq("event_id"))
      try q1.processAllAvailable() // batch 1: update pairs, then the crash
      catch { case _: Exception => () }
    } finally {
      try q1.stop() catch { case _: Exception => () }
    }
    val q2 = start()
    try {
      q2.processAllAvailable() // replays batch 1: txn no-op
      ManifestSink.deleteCow(spark, root,
        ev.filter(col("event_id").between(200, 299)).select(col("event_id")),
        "event_id", Seq("event_id"))
      q2.processAllAvailable() // batch 2: deletes
    } finally q2.stop()

    (ManifestSink.read(spark, view).orderBy("user_id"),
      ManifestSink.currentEpoch(spark, view), attempts.get())
  }
}
