package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import perfbench.Models.Event

/** The reference's dataflow: Confluent-wire Avro records from 100 devices
  * land as one file per batch in a file-stream source; one decoded stream
  * feeds the raw append table and the watermarked hourly aggregate, each
  * committing into its own catalog table. After every batch a dashboard
  * read runs, as the reference's monitor script does.
  *
  * Write op: land a batch, then wait until both streams have committed
  * it. Read op: the dashboard (row count plus latest reading per device). */
final class Ingest(spark: SparkSession, rec: Recorder, seed: Long, dir: File) extends Workload {

  /** Readings per device per batch: 4,000 events, a 20-minute span. */
  private val PerDevice = 40

  private val staging = new File(dir, "staging")
  private val landing = new File(dir, "landing")
  private val rawRoot = new File(dir, "tables/raw")
  private val aggRoot = new File(dir, "tables/hourly")
  private val ckpt = new File(dir, "checkpoints")
  private def raw = s"graft.`${rawRoot.getAbsolutePath}`"
  private def agg = s"graft.`${aggRoot.getAbsolutePath}`"

  private val model = new Models.WatermarkModel(Gen.WatermarkMs)
  private val landed = mutable.ArrayBuffer[Event]()
  private val latest = mutable.HashMap[String, Event]()
  private val problems = mutable.ArrayBuffer[String]()
  private val encoder = new Gen.AvroEncoder(1)
  private var next = 0
  private var timedRows = 0L
  private var prepared: (File, IndexedSeq[Event], IndexedSeq[Array[Byte]]) = _

  private val fileSchema = MessageTypeParser.parseMessageType("message batch { required binary value; }")

  /** Encodes batch `b` into a parquet file outside the source directory. */
  private def prepare(b: Int): (File, IndexedSeq[Event], IndexedSeq[Array[Byte]]) = {
    val events = Gen.ingestBatch(seed, b, PerDevice)
    val bytes = events.map(encoder.encode)
    val f = new File(staging, f"batch-$b%05d.parquet")
    val groups = new SimpleGroupFactory(fileSchema)
    val w = ExampleParquetWriter.builder(new Path(f.getAbsolutePath))
      .withConf(new Configuration()).withType(fileSchema).build()
    try bytes.foreach(v => w.write(groups.newGroup().append("value", Binary.fromConstantByteArray(v))))
    finally w.close()
    (f, events, bytes)
  }

  private val (rawQ, aggQ): (StreamingQuery, StreamingQuery) = {
    staging.mkdirs(); landing.mkdirs()
    val g0 = System.nanoTime()
    prepared = prepare(0)
    rec.sample("setup.generate_ms", (System.nanoTime() - g0) / 1e6)
    val p0 = System.nanoTime()
    spark.sql(s"CREATE TABLE $raw (device_id STRING, timestamp BIGINT, temperature FLOAT, " +
      "humidity FLOAT, location STRING)")
    spark.sql(s"CREATE TABLE $agg (device_id STRING, hour_bucket BIGINT, avg_temperature FLOAT, " +
      "max_temperature FLOAT, min_temperature FLOAT, event_count INT)")
    val decoded = spark.readStream.schema("value BINARY").parquet(landing.getAbsolutePath)
      .select(graft.avro.AvroCodec.from_avro(col("value"), graft.contract.Schemas.SensorEventAvro).as("e"))
      .select("e.*")
    val r = graft.streaming.Streams.rawProjection(decoded).writeStream
      .queryName("raw").option("checkpointLocation", new File(ckpt, "raw").getAbsolutePath)
      .option("statsCols", "device_id,timestamp")
      .toTable(raw)
    val a = graft.streaming.Streams.hourlyAggregate(decoded).writeStream
      .queryName("agg").outputMode("append")
      .option("checkpointLocation", new File(ckpt, "agg").getAbsolutePath)
      .toTable(agg)
    rec.sample("setup.preload_ms", (System.nanoTime() - p0) / 1e6)
    (r, a)
  }

  // warm-up: two batches, so the first decode, window eviction and
  // dashboard plans are compiled before timing starts
  locally {
    val w0 = System.nanoTime()
    step(); step()
    rec.sample("setup.warmup_ms", (System.nanoTime() - w0) / 1e6)
  }

  /** Five batches, each followed by the dashboard: a fixed amount of work
    * per round, so every run times the same batches of the stream. */
  def round(): Unit = (0 until 5).foreach(_ => step())

  private def step(): Unit = {
    val (file, events, bytes) = prepared
    rec.op("write", "land_batch") {
      val target = new File(landing, file.getName)
      java.nio.file.Files.move(file.toPath, target.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      rawQ.processAllAvailable()
      aggQ.processAllAvailable()
    }
    landed ++= events
    timedRows += events.size
    model.addBatch(events)
    events.foreach(e => if (latest.get(e.deviceId).forall(_.ts < e.ts)) latest(e.deviceId) = e)
    if (rec.traced) {
      // decode-only pass through the program's Avro kernel
      val t0 = System.nanoTime()
      val k = graft.avro.FromAvro(
        org.apache.spark.sql.catalyst.expressions.Literal(Array.emptyByteArray),
        graft.contract.Schemas.SensorEventAvro)
      bytes.foreach(k.decodeKernel)
      rec.sample("avro.decode_ms", (System.nanoTime() - t0) / 1e6)
    }
    next += 1
    prepared = prepare(next)

    val (count, last) = rec.op("read", "dashboard", raw) {
      val c = spark.sql(s"SELECT COUNT(*) FROM $raw").collect()(0).getLong(0)
      val l = spark.sql(
        s"""SELECT device_id, timestamp, temperature FROM (
           |  SELECT device_id, timestamp, temperature,
           |         row_number() OVER (PARTITION BY device_id ORDER BY timestamp DESC) AS rn
           |  FROM $raw) WHERE rn = 1""".stripMargin)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getFloat(2))).toMap
      (c, l)
    }
    if (count != landed.size) problems += s"dashboard count $count, expected ${landed.size}"
    val want = latest.map { case (d, e) => d -> (e.ts, e.temperature) }.toMap
    if (last != want) problems += s"dashboard latest-per-device differs after batch ${next - 1}"
  }

  def failures: Seq[String] = problems.toSeq

  def verify(): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    val got = spark.sql(s"SELECT device_id, timestamp, temperature, humidity, location FROM $raw")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getFloat(2), r.getFloat(3), r.getString(4)))
      .sortBy(r => (r._1, r._2, r._3))
    val want = landed.map(e => (e.deviceId, e.ts, e.temperature, e.humidity, e.location)).toArray
      .sortBy(r => (r._1, r._2, r._3))
    if (!got.sameElements(want))
      out += s"raw table differs from the generated events (${got.length} rows, expected ${want.length})"
    val hours = spark.sql(s"SELECT device_id, hour_bucket, avg_temperature, max_temperature, " +
      s"min_temperature, event_count FROM $agg").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getFloat(2), r.getFloat(3), r.getFloat(4), r.getInt(5)))
    val gotHours = hours.toMap
    val wantHours = model.finalized
    if (hours.length != gotHours.size) out += "hourly table holds a window twice"
    if (gotHours.size != wantHours.size)
      out += s"hourly table has ${gotHours.size} windows, the watermark model finalizes ${wantHours.size}"
    wantHours.foreach { w =>
      gotHours.get((w.deviceId, w.hourBucket)) match {
        case None => out += s"window ${w.deviceId}@${w.hourBucket} missing"
        case Some((avg, mx, mn, n)) =>
          if (n != w.count || mx != w.max || mn != w.min || math.abs(avg - w.avg) > 1e-4 * math.abs(w.avg))
            out += s"window ${w.deviceId}@${w.hourBucket}: got ($avg,$mx,$mn,$n), " +
              s"expected (${w.avg},${w.max},${w.min},${w.count})"
      }
    }
    if (model.dropped == 0) out += "no event arrived beyond the watermark; the late path went unchecked"
    out.toSeq
  }

  def catalogTables: Seq[String] = Seq(raw, agg)
  def tableRoots: Seq[File] = Seq(rawRoot, aggRoot)
  def storageRoots: Seq[File] = Seq(rawRoot, aggRoot, ckpt)
  def liveRows: Long = landed.size + model.finalized.size
  def inputRows: Long = timedRows
  def startTimed(): Unit = timedRows = 0L

  def layerMetrics(): Seq[(String, String, Double)] = {
    val ps = rec.progress.toSeq.filter(_.numInputRows > 0)
    def of(name: String) = ps.filter(_.name == name)
    def dur(xs: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], k: String) =
      Recorder.median(xs.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue)))
    val aggAll = rec.progress.toSeq.filter(_.name == "agg")
    val state = aggAll.flatMap(_.stateOperators.headOption)
    Seq(
      ("avro.decode_ms", "ms", Recorder.median(rec.samples.getOrElse("avro.decode_ms", Nil).toSeq)),
      ("streaming.raw.trigger_ms", "ms", dur(of("raw"), "triggerExecution")),
      ("streaming.agg.trigger_ms", "ms", dur(of("agg"), "triggerExecution")),
      ("streaming.raw.add_batch_ms", "ms", dur(of("raw"), "addBatch")),
      ("streaming.agg.add_batch_ms", "ms", dur(of("agg"), "addBatch")),
      ("streaming.planning_ms", "ms", dur(ps, "queryPlanning")),
      ("streaming.wal_ms", "ms", dur(ps, "walCommit")),
      ("streaming.agg.state_rows", "count", state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)),
      ("streaming.agg.state_bytes", "B", state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0)),
      ("streaming.agg.state_commit_ms", "ms", Recorder.median(state.map(_.commitTimeMs.toDouble))),
      ("streaming.agg.late_rows_dropped", "count", state.map(_.numRowsDroppedByWatermark.toDouble).sum),
    )
  }
}
