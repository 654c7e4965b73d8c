package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sink.{PartitionedParquetSink, Sink}
import graft.streaming.Streams

/** Streaming-semantics tests (SURVEY.md §5 item 3): window content vs
  * batch oracle, watermark late-drop, checkpoint recovery without
  * duplicates. MemoryStream drives event-time control precisely. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  case class Ev(device_id: String, timestamp: Long, temperature: Float,
                humidity: Float, location: String)

  private def ev(dev: String, minuteOfDay: Int, temp: Float): Ev =
    Ev(dev, 1704067200000L + minuteOfDay * 60000L, temp, 50f, "Rome")

  private class CollectingSink(override val name: String) extends Sink {
    override val consistencyLevel = "TEST"
    var batches: Vector[(Long, Array[org.apache.spark.sql.Row])] = Vector.empty
    override def write(batch: DataFrame, batchId: Long): Unit =
      synchronized { batches :+= (batchId, batch.collect()) }
    def rows = batches.flatMap(_._2)
  }

  test("windowed agg content matches the batch groupBy oracle") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // two devices, two hours
    mem.addData(ev("d1", 0, 20f), ev("d1", 30, 24f), ev("d1", 65, 30f), ev("d2", 10, 10f))
    // advance watermark far past both windows
    mem.addData(ev("d9", 300, 0f))

    val sink = new CollectingSink("agg")
    val q = Streams.startAggStream(mem.toDF(), sink, tmpDir("ck-agg"),
      Trigger.AvailableNow())
    q.awaitTermination(60000)

    val got = sink.rows.map(r => (r.getString(0), r.getLong(1), r.getFloat(2), r.getInt(5))).toSet
    val base = 1704067200L
    assert(got.contains(("d1", base, 22f, 2)))
    assert(got.contains(("d1", base + 3600, 30f, 1)))
    assert(got.contains(("d2", base, 10f, 1)))
  }

  test("events later than the 1-minute watermark are dropped from closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val sink = new CollectingSink("agg-late")
    val ck = tmpDir("ck-late")

    // batch 1: hour-0 events, then hour-2 event pushes watermark to ~2h
    mem.addData(ev("d1", 0, 20f), ev("d1", 1, 22f), ev("d1", 125, 30f))
    val q1 = Streams.startAggStream(mem.toDF(), sink, ck, Trigger.AvailableNow())
    q1.awaitTermination(60000)

    // batch 2: a straggler for hour 0 — already finalized, must be dropped
    mem.addData(ev("d1", 5, 99f))
    // and something to advance/flush
    mem.addData(ev("d1", 300, 1f))
    val q2 = Streams.startAggStream(mem.toDF(), sink, ck, Trigger.AvailableNow())
    q2.awaitTermination(60000)

    val hour0 = sink.rows.filter(r => r.getString(0) == "d1" && r.getLong(1) == 1704067200L)
    assert(hour0.map(_.getInt(5)).sum == 2, "late event must not reopen the closed window")
    assert(!hour0.exists(_.getFloat(3) == 99f))
  }

  test("raw stream with checkpoint recovery appends exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = tmpDir("raw-out")
    val ck = tmpDir("ck-raw")
    val sink = new PartitionedParquetSink(out, "raw", "ONE", "device_id", "timestamp", buckets = 4)

    mem.addData(ev("d1", 0, 20f), ev("d2", 1, 21f))
    val q1 = Streams.startRawStream(mem.toDF(), sink, ck, Trigger.AvailableNow())
    q1.awaitTermination(60000)

    // restart from the same checkpoint with one new event: only the new
    // offset range replays
    mem.addData(ev("d3", 2, 22f))
    val q2 = Streams.startRawStream(mem.toDF(), sink, ck, Trigger.AvailableNow())
    q2.awaitTermination(60000)

    val persisted = spark.read.parquet(out)
    assert(persisted.count() == 3)
    assert(persisted.select("device_id").as[String].collect().toSet == Set("d1", "d2", "d3"))
    // bucketed layout on disk (the Cassandra-partition analog)
    assert(persisted.columns.contains("bucket"))
  }

  test("checkpoint-recovery fixed point: offsets AND dedup state survive a restart") {
    val out = graft.streaming.RecoveryDemo.recoveryDemoImpl(spark)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2), r.getLong(3), r.getFloat(4)))
    val base = 1704067200000L
    // 3 rows total: file 1 NOT re-read after restart (else d1@base and
    // d2 would appear twice) and the file-2 redelivery of d1@base
    // dropped by the RECOVERED dedup state (else a 4th row).
    assert(out.length == 3, s"recovery fixed point broken: ${out.toSeq}")
    assert(out.map(t => (t._3, t._4, t._5, t._2)).toSet ==
      Set(("d1", base, 21f, false), ("d2", base + 1000L, 22f, false),
        ("d1", base + 2000L, 23f, true)))
    // the genuinely-new reading arrives in a strictly later batch than
    // the pre-restart rows — the restarted query RESUMED, not replayed
    val batchOf = out.map(t => (t._3, t._4) -> t._1).toMap
    assert(batchOf(("d1", base)) == batchOf(("d2", base + 1000L)))
    assert(batchOf(("d1", base + 2000L)) > batchOf(("d1", base)),
      s"restart did not advance the batch id: ${out.toSeq}")
  }

  test("stateful fixed points are invariant under the RocksDB state store provider") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "2")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      graft.streaming.StreamingDemos.RocksDbProvider)
    // ingest dedup (dropDuplicatesWithinWatermark state)
    val dedup = graft.streaming.StreamJoins.dedupDemoImpl(s)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getFloat(2))).toSeq
    val base = 1704067200000L
    assert(dedup == Seq(("d1", base, 22f), ("d1", base + 2000L, 23f),
      ("d2", base + 1000L, 25f)), s"rocksdb dedup fixed point: $dedup")
    // checkpoint recovery: RocksDB state must ALSO rebuild from the
    // checkpoint across the stop/restart boundary
    val recov = graft.streaming.RecoveryDemo.recoveryDemoImpl(s)
      .collect().map(r => (r.getString(2), r.getLong(3), r.getFloat(4))).toSet
    assert(recov == Set(("d1", base, 21f), ("d2", base + 1000L, 22f),
      ("d1", base + 2000L, 23f)), s"rocksdb recovery fixed point: $recov")
  }

  test("file-stream source over parquet replays the batch plan identically") {
    // S1 offline impl: a directory of parquet files consumed as a
    // stream; same downstream plan as the Kafka source would feed.
    val srcDir = tmpDir("stream-src")
    val batch = graft.ingest.Generator.sensorEvents(spark, 8, 10)
    batch.write.mode("overwrite").parquet(srcDir)

    val stream = spark.readStream.schema(batch.schema).parquet(srcDir)
    val sink = new CollectingSink("file-agg")
    val q = Streams.startAggStream(stream, sink, tmpDir("ck-file"), Trigger.AvailableNow())
    q.awaitTermination(60000)

    val streamed = sink.rows.map(r => (r.getString(0), r.getLong(1), r.getInt(5))).toSet
    val batched = Streams.hourlyAggregate(batch).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(5))).toSet
    // AvailableNow + watermark: windows not yet past the watermark stay
    // in state, so streamed output is a subset closed under finality;
    // with all events in one hour the batch view must contain it.
    assert(streamed.subsetOf(batched))
  }

  test("dual-stream pipeline throughput far exceeds the reference's ~105 events/sec") {
    // The reference ingests ~105 events/sec end-to-end
    // (docs/baseline-architecture.md:317). Push 100k generated events
    // through BOTH concurrent streams (raw append + windowed agg) via
    // the file-stream source and measure events/sec.
    val n = 100000
    val srcDir = tmpDir("tp-src")
    val batch = graft.ingest.Generator.sensorEvents(spark, 100, n / 100)
    batch.write.mode("overwrite").parquet(srcDir)

    val rawSink = new CollectingSink("tp-raw")
    val aggSink = new CollectingSink("tp-agg")
    val t0 = System.nanoTime()
    val stream1 = spark.readStream.schema(batch.schema).parquet(srcDir)
    val stream2 = spark.readStream.schema(batch.schema).parquet(srcDir)
    val q1 = Streams.startRawStream(stream1, rawSink, tmpDir("tp-ck-raw"), Trigger.AvailableNow())
    val q2 = Streams.startAggStream(stream2, aggSink, tmpDir("tp-ck-agg"), Trigger.AvailableNow())
    q1.awaitTermination(300000)
    q2.awaitTermination(300000)
    val secs = (System.nanoTime() - t0) / 1e9
    val evPerSec = n / secs
    info(f"dual-stream throughput: $evPerSec%.0f events/sec over $n events (${secs}%.1f s)")
    println(f"[stream-bench] dual-stream throughput: $evPerSec%.0f events/sec ($n events in $secs%.1f s)")
    assert(rawSink.rows.size == n)
    assert(evPerSec > 1050, f"expected >=10x the reference's 105 ev/s, got $evPerSec%.0f")
  }

  test("streaming ingest against standing dedup state equals the two-stage batch recompute") {
    import org.apache.spark.sql.functions.col
    import graft.llm.Dedup
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val b1 = docs.filter(col("doc_id") % 10 === 0)
    val b2 = docs.filter(col("doc_id") % 10 === 5)
    val streamed = graft.streaming.StateDedupIngest.demo(spark, sf)
      .collect().toSeq
    // batch-k flags depend only on (corpus, batches < k)
    val stage1 = Dedup.incrementalDedup(b1, corpus)
    val stage2 = Dedup.incrementalDedup(b2, corpus.unionByName(b1))
    val recomputed = stage1.unionByName(stage2).orderBy("doc_id").collect().toSeq
    assert(streamed == recomputed)
    // and every stream-side doc got exactly one flag row
    assert(streamed.map(_.getLong(0)).distinct.size == b1.count() + b2.count())
  }

  test("streaming ANN ingest: flags equal the two-stage batch recompute, gates hold, compaction shrinks both trees") {
    import org.apache.spark.sql.functions.col
    import graft.llm.Similarity
    val emb = Tables.embeddings(spark, sf)
    val streamed = graft.streaming.StreamAnnIngest.demo(spark, sf).collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed.forall(_.getBoolean(4)),
      "routed batch probe must recall >= 0.9 of the exact pairs at nProbe=14")
    // batch-k flags depend only on the state at batch start: replay
    // the stream as the two-stage exact recompute
    val state0 = emb.filter(col("vec_id") % 10 =!= 3 && col("vec_id") % 10 =!= 7)
      .select(col("vec_id"), col("embedding"))
    val q1 = emb.filter(col("vec_id") % 10 === 3)
    val state1 = emb.filter(col("vec_id") % 10 =!= 7)
      .select(col("vec_id"), col("embedding"))
    val q2 = emb.filter(col("vec_id") % 10 === 7)
    val recomputed = (Similarity.batchTopKExact(state0, q1, 3).collect() ++
        Similarity.batchTopKExact(state1, q2, 3).collect())
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(streamed.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      == recomputed)
    // every streamed vector got exactly k=3 flag rows
    assert(streamed.map(_.getLong(0)).distinct.size == q1.count() + q2.count())
    streamed.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3), s"query $qid")
    }
    // the closing compaction sweep actually reduced the delta-file
    // count the two appends accumulated, in BOTH cell-partitioned trees
    val ((cB, cA), (sB, sA)) = graft.streaming.StreamAnnIngest.report(sf).get
    assert(cA < cB, s"cells: $cB -> $cA")
    assert(sA < sB, s"cells_sq: $sB -> $sA")
  }

  test("rate-source generator stream produces the contract schema") {
    val stream = graft.ingest.Generator.sensorEventStream(spark)
    assert(stream.isStreaming)
    assert(stream.schema.fieldNames.toSeq ==
      Seq("device_id", "device_name", "timestamp", "temperature", "humidity", "location"))
  }

  test("streaming bm25 ingest: per-batch scores equal fresh prefix rebuilds") {
    import org.apache.spark.sql.functions._
    import graft.llm.Bm25
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val streamed = graft.streaming.StreamBm25Ingest.demo(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(streamed.nonEmpty)
    def rebuilt(pred: org.apache.spark.sql.Column): Seq[(Long, Int, Long, Double)] = {
      val dir = java.nio.file.Files.createTempDirectory("bm25_prefix_").toString
      Bm25.buildIndex(docs.filter(pred), dir)
      Bm25.scoreWithIndex(docs, dir, col("doc_id") % 250 === 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    }
    val stage0 = rebuilt(col("doc_id") % 10 =!= 7)
    val stage1 = rebuilt(lit(true))
    assert(streamed.filter(_._1 == 0).map(t => (t._2, t._3, t._4, t._5)) == stage0,
      "batch-0 scores must equal a fresh rebuild of corpus minus the unseen class")
    assert(streamed.filter(_._1 == 1).map(t => (t._2, t._3, t._4, t._5)) == stage1,
      "batch-1 scores must equal a fresh full-corpus rebuild")
    // freshness: batch-1 results can rank batch-1 docs (the %10==7
    // class is searchable the moment its batch commits) — and stage-0
    // results never contain them
    assert(streamed.filter(_._1 == 0).forall(_._4 % 10 != 7))
  }

  test("streaming manifest sink: each epoch is an exact committed stream prefix") {
    import org.apache.spark.sql.functions._
    import graft.sink.ManifestSink
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "value")
    val (root, frame, attempts) =
      graft.streaming.StreamManifestSink.demoWithRoot(spark, sf)
    // final epoch = both batches — EXACTLY once, even though batch 1
    // was replayed after the simulated crash (attempts > batches
    // proves the replay actually ran and the txn no-op absorbed it)
    val want = ev.filter(col("event_id") % 3 <= 1)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(frame.select("event_id").as[Long].collect().sorted.toSeq == want)
    assert(attempts == 3, s"expected batch0 + crashed batch1 + replayed batch1, got $attempts")
    assert(ManifestSink.currentEpoch(spark, root) == 2,
      "replayed batch must not publish a third epoch")
    assert(ManifestSink.lastCommittedVersion(spark, root,
      "graft_stream_manifest_demo").contains(1L))
    // epoch 1 = exactly batch 1 (time travel into stream history)
    val e1 = ManifestSink.read(spark, root, epoch = 1)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(e1 == ev.filter(col("event_id") % 3 === 0)
      .select("event_id").as[Long].collect().sorted.toSeq)
    // APPEND economics: epoch-2's manifest shares epoch-1's data files
    // (no rewrite — O(batch) data I/O per commit), and every epoch-1
    // file survives the second commit byte-identical
    val m1 = ManifestSink.manifestFiles(spark, root, 1).toSet
    val m2 = ManifestSink.manifestFiles(spark, root, 2).toSet
    assert(m1.subsetOf(m2), "append manifest must reference prior files")
    assert((m2 -- m1).nonEmpty, "append manifest must add the new batch's files")
    assert(m1.forall(p => new java.io.File(
      new org.apache.hadoop.fs.Path(p).toUri.getPath).exists()))
    // zone maps survive the append chain: a narrow range read on the
    // STREAMED table prunes the file list (each batch range-clustered)
    val (pruned, hit, total) = ManifestSink.readPruned(spark, root, col("event_id").between(100L, 199L))
    assert(hit < total, s"streamed zone maps must prune: $hit/$total")
    assert(pruned.filter(col("event_id").between(100L, 199L))
      .select("event_id").as[Long].collect().sorted.toSeq ==
      ev.filter(col("event_id") % 3 <= 1 && col("event_id").between(100L, 199L))
        .select("event_id").as[Long].collect().sorted.toSeq)
    // a stray in-flight file is invisible to the committed view
    val stray = s"$root/__stray"
    ev.limit(3).coalesce(1).write.mode("overwrite").parquet(stray)
    val sp = new org.apache.hadoop.fs.Path(stray)
    val hfs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = hfs.listStatus(sp).map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    assert(hfs.rename(part, new org.apache.hadoop.fs.Path(
      s"$root/data-epoch=2/part-77777-inflight.parquet")))
    assert(ManifestSink.read(spark, root)
      .select("event_id").as[Long].collect().sorted.toSeq == want,
      "in-flight file leaked into the committed stream view")
  }

  test("streaming graph ingest: state-at-start flags, search gate, compaction close") {
    val out = graft.streaming.StreamGraphIngest.demo(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getBoolean(4)), "per-batch beam-search gate must hold")
    // state-at-start: batch-0 flags (queries % 10 == 4) can only
    // reference the standing corpus — neither their own batch nor the
    // future batch-1 class
    val b0 = out.filter(_.getLong(0) % 10 == 4)
    assert(b0.nonEmpty && b0.forall(r => r.getLong(2) % 10 != 4 && r.getLong(2) % 10 != 9))
    // batch-1 flags see the standing corpus PLUS batch 0 (freshness)
    val b1 = out.filter(_.getLong(0) % 10 == 9)
    assert(b1.nonEmpty && b1.forall(_.getLong(2) % 10 != 9))
    // the closing compaction restored the edge-table file budget
    // (merge epochs accumulate fresh files; the sweep caps them —
    // at tiny SFs the table may already sit at the budget)
    val Some((before, after)) = graft.streaming.StreamGraphIngest.report(sf)
    assert(after <= before && after <= 2,
      s"compaction must restore the file budget: $before -> $after")
  }

  test("streaming CDC upsert: exactly-once merge under replay, insert-then-update lands") {
    import org.apache.spark.sql.functions._
    import graft.sink.ManifestSink
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "value")
    val (root, frame, attempts) =
      graft.streaming.StreamCdcUpsert.demoWithRoot(spark, sf)
    // crash + replay happened; the replay merged nothing (3 epochs =
    // base + two batches — a replayed merge would be a 4th)
    assert(attempts == 3, s"expected batch0 + crashed batch1 + replay, got $attempts")
    assert(ManifestSink.currentEpoch(spark, root) == 3)
    // insert-then-update: the % 4 == 1 class arrived in batch 0 and
    // was doubled by batch 1 — both must have landed exactly once
    val got = frame.select("event_id", "value").as[(Long, Double)]
      .collect().toMap
    val ins = ev.filter(col("event_id") % 4 === 1 && col("event_id") < 300)
      .select("event_id", "value").as[(Long, Double)].collect()
    assert(ins.nonEmpty)
    ins.foreach { case (id, v) => assert(got(id) == v * 2, s"event $id") }
    // untouched base rows are byte-stable
    val base = ev.filter(col("event_id") % 4 === 0 && col("event_id") >= 300)
      .select("event_id", "value").as[(Long, Double)].collect()
    base.foreach { case (id, v) => assert(got(id) == v, s"event $id") }
    // pre-stream base epoch still time-travels
    assert(ManifestSink.read(spark, root, epoch = 1).count() ==
      ev.filter(col("event_id") % 4 === 0).count())
  }
}
