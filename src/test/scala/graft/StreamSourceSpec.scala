package graft

import org.apache.spark.sql.functions._

import graft.sink.ManifestSink

/** The manifest table through `format("graft-manifest")` (the DSv2
  * table by root): epoch offsets, snapshot-then-tail, per-batch plans
  * bounded by the appended files, checkpoint restart, the append-only
  * contract, and the batch read. */
class StreamSourceSpec extends SparkTestBase {

  private def ev = Tables.events(spark, sf)
    .select(col("event_id"), col("value"))

  test("manifest stream source: snapshot then incremental tail, restart resumes at epoch offset") {
    val bronze = tmpDir("graft_msrc_")
    val ckpt = tmpDir("graft_msrc_ckpt_")
    ManifestSink.publish(ev.filter(col("event_id") < 100), bronze, 1, append = true)
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def start() = spark.readStream
      .format("graft-manifest").option("root", bronze).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.synchronized { batches += ((id, b.count())) }; ()
      }.start()
    val q1 = start()
    try {
      q1.processAllAvailable()
      ManifestSink.publish(ev.filter(col("event_id").between(100, 149)), bronze, 2, append = true)
      q1.processAllAvailable()
    } finally q1.stop()
    // an epoch lands while NO query runs; the restart must resume at
    // the checkpointed epoch, reading only the missed delta
    ManifestSink.publish(ev.filter(col("event_id").between(150, 169)), bronze, 3, append = true)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(batches.toSeq == Seq((0L, 100L), (1L, 50L), (2L, 20L)),
      s"snapshot + two deltas, never a re-read; got $batches")
  }

  test("partitionValues: each micro-batch rides its files' committed " +
    "time ordinals; batch file sets group by ordinal") {
    val bronze = tmpDir("graft_mpv_")
    val evts = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("value"))
    ManifestSink.publish(
      evts.filter(col("ts") < lit("2024-01-01 06:00:00")),
      bronze, 1, ManifestSink.WriteSpec(Seq("ts"),
        layout = ManifestSink.LayoutDecl(ptime = Some(("ts", "hours")))))
    // (batchId, ordinal, rows, ordinal==recomputed-transform?) per group
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Boolean)]
    val q = spark.readStream
      .format("graft-manifest").option("root", bronze)
      .option("partitionValues", "true").load()
      .writeStream.option("checkpointLocation", tmpDir("graft_mpv_ck_"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        // the downstream partition-aligned write: group by the RIDDEN
        // value and verify it equals the transform of every row in
        // the group (floorDiv(epochMicros, hourMicros))
        val rows = b.groupBy(col("_partition"))
          .agg(count(lit(1)).as("n"),
            min(col("_partition") === ZoneOracle.timeOrdCol(col("ts"),
              b.schema("ts").dataType, "hours").cast("long")).as("aligned"))
          .collect()
        seen.synchronized {
          rows.foreach(r => seen +=
            ((id, r.getLong(0), r.getLong(1), r.getBoolean(2))))
        }
        ()
      }.start()
    try {
      q.processAllAvailable()
      // the append lays out ONLY the batch; its micro-batch exposes
      // exactly the appended hours
      ManifestSink.commitStaged(spark, ManifestSink.stageAppend(
        evts.filter(col("ts") >= lit("2024-01-01 06:00:00") &&
          col("ts") < lit("2024-01-01 09:00:00")),
        bronze, 2, ManifestSink.WriteSpec(Seq("ts"),
          layout = ManifestSink.LayoutDecl(ptime = Some(("ts", "hours"))))))
      q.processAllAvailable()
    } finally q.stop()
    val byBatch = seen.toSeq.groupBy(_._1)
    def hoursOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select(ZoneOracle.timeOrdCol(col("ts"),
        df.schema("ts").dataType, "hours").cast("long"))
        .distinct().collect().map(_.getLong(0)).sorted.toSeq
    assert(byBatch(0L).map(_._2).sorted ==
      hoursOf(evts.filter(col("ts") < lit("2024-01-01 06:00:00"))),
      s"snapshot batch must group by exactly the committed hour ordinals: $seen")
    assert(byBatch(1L).map(_._2).sorted ==
      hoursOf(evts.filter(col("ts") >= lit("2024-01-01 06:00:00") &&
        col("ts") < lit("2024-01-01 09:00:00"))),
      s"tail batch must expose exactly the appended hours: $seen")
    assert(seen.forall(_._4),
      s"every ridden value must equal the row's transform: $seen")
    val total = seen.map(_._3).sum
    assert(total == evts.filter(col("ts") < lit("2024-01-01 09:00:00")).count())
  }

  test("partitionValues on a COMPOSED table: the (ord, bucket) pair rides " +
    "UNPACKED as _partition + _bucket — never the packed long") {
    val bronze = tmpDir("graft_mpv2_")
    val evts = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .filter(col("ts") < lit("2024-01-01 04:00:00"))
    ManifestSink.publish(evts, bronze, 1, ManifestSink.WriteSpec(Seq("ts", "user_id"),
      layout = ManifestSink.LayoutDecl(Some(("user_id", 2)), Some(("ts", "hours")))))
    // every row's ridden pair must equal its recomputed transforms
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Boolean)]
    val q = spark.readStream
      .format("graft-manifest").option("root", bronze)
      .option("partitionValues", "true").load()
      .writeStream.option("checkpointLocation", tmpDir("graft_mpv2_ck_"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        assert(b.schema.fieldNames.takeRight(2).toSeq ==
          Seq("_partition", "_bucket"))
        val rows = b.groupBy(col("_partition"), col("_bucket"))
          .agg(count(lit(1)).as("n"),
            min(col("_partition") === ZoneOracle.timeOrdCol(col("ts"),
              b.schema("ts").dataType, "hours").cast("long") &&
              col("_bucket") === pmod(col("user_id"), lit(2)).cast("int"))
              .as("aligned"))
          .collect()
        seen.synchronized {
          rows.foreach(r => seen +=
            ((r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3))))
        }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(seen.nonEmpty && seen.forall(_._4),
      s"every ridden (ord, bucket) must equal the row's transforms: $seen")
    assert(seen.map(_._3).sum == evts.count())
    // both buckets and >1 hour present — the pair really is unpacked
    assert(seen.map(_._2).toSet == Set(0, 1), s"buckets seen: $seen")
    assert(seen.map(_._1).toSet.size > 1, s"hours seen: $seen")
  }

  test("manifest stream source: startEpoch skips the snapshot; rewrites are refused") {
    val bronze = tmpDir("graft_msrc2_")
    ManifestSink.publish(
      ev.filter(col("event_id") < 50)
        .repartitionByRange(2, col("event_id")).sortWithinPartitions("event_id"),
      bronze, 1, ManifestSink.WriteSpec(Seq("event_id")))
    ManifestSink.publish(
      ev.filter(col("event_id").between(50, 79)), bronze, 2,
        ManifestSink.WriteSpec(Seq("event_id")), append = true)
    // startEpoch=1: tail only — epoch 2's 30 rows, not the snapshot
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream
      .format("graft-manifest").option("root", bronze).option("startEpoch", "1").load()
      .writeStream.option("checkpointLocation", tmpDir("graft_msrc2_ck_"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized { got += b.count() }; ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(got.toSeq == Seq(30L))
    // a CoW epoch removes manifest files -> the append-only source refuses
    ManifestSink.mergeCow(spark, bronze,
      ev.filter(col("event_id") === 10).select(col("event_id"), (col("value") + 1).as("value")),
      "event_id", Seq("event_id"))
    val q2 = spark.readStream
      .format("graft-manifest").option("root", bronze).option("startEpoch", "2").load()
      .writeStream.option("checkpointLocation", tmpDir("graft_msrc2_ck2_"))
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }.start()
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable(); q2.awaitTermination()
    }
    val chain = Iterator.iterate[Throwable](failed)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(chain.exists(_.contains("append-only")),
      s"expected the append-only refusal, got: $chain")
  }

  test("change-feed mode: CoW epochs stream as update pairs; opening batch is snapshot-as-inserts") {
    val bronze = tmpDir("graft_msrc3_")
    ManifestSink.publish(
      ev.filter(col("event_id") < 50)
        .repartitionByRange(2, col("event_id")).sortWithinPartitions("event_id"),
      bronze, 1, ManifestSink.WriteSpec(Seq("event_id")))
    ManifestSink.mergeCow(spark, bronze,
      ev.filter(col("event_id") === 7)
        .select(col("event_id"), (col("value") + 2).as("value")),
      "event_id", Seq("event_id"))
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Int)]
    val q = spark.readStream
      .format("graft-manifest").option("root", bronze)
      .option("changeFeedKey", "event_id").load()
      .writeStream.option("checkpointLocation", tmpDir("graft_msrc3_ck_"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        rows.synchronized {
          rows ++= b.collect().map(r => (r.getLong(0),
            r.getAs[String]("_change_type"), r.getAs[Int]("_commit_epoch")))
        }; ()
      }.start()
    try {
      q.processAllAvailable()
      // a delete lands mid-stream: the feed must carry it as deletes
      ManifestSink.deleteCow(spark, bronze,
        ev.filter(col("event_id").between(20, 24)).select(col("event_id")),
        "event_id", Seq("event_id"))
      q.processAllAvailable()
    } finally q.stop()
    val got = rows.synchronized(rows.toSeq)
    assert(got.count(_._2 == "insert") == 50, "snapshot-as-inserts for epoch 1")
    assert(got.filter(r => r._2.startsWith("update")).map(_._1).toSet == Set(7L))
    assert(got.filter(_._2 == "delete").map(_._1).toSet == (20L to 24L).toSet)
    assert(got.filter(_._2 == "delete").forall(_._3 == 3), "deletes carry their epoch")
  }

  test("batch format() read matches ManifestSink.read, MoR epochs included") {
    val root = tmpDir("graft_mfmt_spec_")
    ManifestSink.publish(
      ev.filter(col("event_id") < 80)
        .repartitionByRange(2, col("event_id")).sortWithinPartitions("event_id"),
      root, 1, ManifestSink.WriteSpec(Seq("event_id")))
    val viaFormat = spark.read.format("graft-manifest").option("root", root).load()
      .orderBy("event_id").collect().toSeq
    val viaApi = ManifestSink.read(spark, root).orderBy("event_id").collect().toSeq
    assert(viaFormat == viaApi)
    ManifestSink.deleteMor(spark, root,
      ev.filter(col("event_id") === 3).select(col("event_id")), "event_id")
    // the delete vector applies on the format() path too
    val afterDv = spark.read.format("graft-manifest").option("root", root).load()
      .orderBy("event_id").collect().toSeq
    assert(afterDv == ManifestSink.read(spark, root).orderBy("event_id").collect().toSeq)
    assert(afterDv.size == 79 && !afterDv.exists(_.getLong(0) == 3L))
    // epoch-pinned time travel still serves the pre-DV epoch
    assert(spark.read.format("graft-manifest").option("root", root)
      .option("epoch", "1").load().count() == 80)
  }
}
