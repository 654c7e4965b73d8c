package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import perfbench.Models.Reading

/** The Cassandra-style table lifecycle. Set-up preloads a many-epoch raw
  * table and an hourly table; each round then runs a fixed seeded mix.
  *
  * Reads, six before each write, cycling: device point lookup newest-first
  * LIMIT 100, device time-range scan, location filter (the secondary
  * index analog), COUNT(*), hourly range per device, and fleet-wide
  * latest per device (the row_number top-k the program rewrites).
  * Writes, one of each per round: append, MERGE of redelivered readings
  * (last write wins per key), retention DELETE, OPTIMIZE CLUSTER BY,
  * VACUUM. */
final class Serve(spark: SparkSession, rec: Recorder, seed: Long, dir: File) extends Workload {

  /** Preloaded epochs and readings per device in each. */
  private val Epochs = 3
  private val PerEpoch = 80
  /** Readings per device an append adds. */
  private val AppendPerDevice = 10
  private val Hours = 48
  /** Files OPTIMIZE clusters the raw table into, so device reads can skip. */
  private val CompactedFiles = 4

  private val rawRoot = new File(dir, "tables/raw")
  private val hourlyRoot = new File(dir, "tables/hourly")
  private val raw = s"graft.`${rawRoot.getAbsolutePath}`"
  private val hourly = s"graft.`${hourlyRoot.getAbsolutePath}`"

  private val model = new Models.LwwTable
  private val hours = Gen.serveHourly(seed, Hours)
  private val problems = mutable.ArrayBuffer[String]()
  private var nextK = 0L
  private var roundNo = 0
  private var timedRows = 0L

  private val rawSchema = StructType(Seq(
    StructField("device_id", StringType), StructField("timestamp", LongType),
    StructField("temperature", FloatType), StructField("humidity", FloatType),
    StructField("location", StringType)))

  private def view(rows: Seq[(String, Long, Reading)], name: String): Unit =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (d, ts, r) =>
        Row(d, ts, r.temperature, r.humidity, r.location)
      }, 1), rawSchema).createOrReplaceTempView(name)

  locally {
    val g0 = System.nanoTime()
    val batches = (0 until Epochs).map(e => Gen.serveReadings(seed, e * PerEpoch, (e + 1) * PerEpoch))
    nextK = Epochs * PerEpoch
    rec.sample("setup.generate_ms", (System.nanoTime() - g0) / 1e6)
    val p0 = System.nanoTime()
    spark.sql(s"CREATE TABLE $raw (device_id STRING, timestamp BIGINT, temperature FLOAT, " +
      "humidity FLOAT, location STRING)")
    batches.foreach { b =>
      view(b, "serve_src")
      spark.sql(s"INSERT INTO $raw SELECT * FROM serve_src")
      model.upsert(b)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(hours.map(h =>
      Row(h.deviceId, h.hourBucket, h.avg.toFloat, h.max, h.min, h.count)), 1),
      StructType(Seq(StructField("device_id", StringType), StructField("hour_bucket", LongType),
        StructField("avg_temperature", FloatType), StructField("max_temperature", FloatType),
        StructField("min_temperature", FloatType), StructField("event_count", IntegerType))))
      .createOrReplaceTempView("serve_hourly")
    spark.sql(s"CREATE TABLE $hourly AS SELECT * FROM serve_hourly")
    rec.sample("setup.preload_ms", (System.nanoTime() - p0) / 1e6)
    // warm-up: every read class and every write kind once
    val w0 = System.nanoTime()
    round(readsPerWrite = 2)
    rec.sample("setup.warmup_ms", (System.nanoTime() - w0) / 1e6)
  }

  private def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what

  private def readings(rows: Array[Row]): Seq[(Long, Reading)] =
    rows.toSeq.map(r => (r.getLong(0), Reading(r.getFloat(1), r.getFloat(2), r.getString(3))))

  /** `n` reads before the write in `slot`, cycling through the six
    * classes; parameters come from the round's generator. */
  private def reads(r: java.util.SplittableRandom, slot: Int, n: Int): Unit =
    (0 until n).foreach(i => read((slot * n + i) % 6, r))

  private def read(cls: Int, r: java.util.SplittableRandom): Unit = cls match {
    case 0 =>
      val d = Gen.deviceId(r.nextInt(Gen.Devices))
      val got = rec.op("read", "point", raw) {
        spark.sql(s"SELECT timestamp, temperature, humidity, location FROM $raw " +
          s"WHERE device_id = '$d' ORDER BY timestamp DESC LIMIT 100").collect()
      }
      check(readings(got) == model.point(d, 100), s"point lookup of $d")

    case 1 =>
      val d2 = Gen.deviceId(r.nextInt(Gen.Devices))
      val lo = model.minTs + r.nextInt(20) * Gen.ServeStepMs
      val hi = lo + 60 * Gen.ServeStepMs
      val got2 = rec.op("read", "range", raw) {
        spark.sql(s"SELECT timestamp, temperature, humidity, location FROM $raw " +
          s"WHERE device_id = '$d2' AND timestamp BETWEEN $lo AND $hi ORDER BY timestamp").collect()
      }
      check(readings(got2) == model.range(d2, lo, hi), s"range scan of $d2 [$lo, $hi]")

    case 2 =>
      val loc = Gen.Locations(r.nextInt(Gen.Locations.size))
      val got3 = rec.op("read", "location", raw) {
        spark.sql(s"SELECT COUNT(*), MIN(timestamp), MAX(timestamp) FROM $raw WHERE location = '$loc'")
          .collect()(0)
      }
      check((got3.getLong(0), got3.getLong(1), got3.getLong(2)) == model.location(loc), s"location $loc")

    case 3 =>
      val n = rec.op("read", "count", raw) {
        spark.sql(s"SELECT COUNT(*) FROM $raw").collect()(0).getLong(0)
      }
      check(n == model.count, s"COUNT(*) $n, expected ${model.count}")

    case 4 =>
      val d3 = r.nextInt(Gen.Devices)
      val h0 = Gen.epochStart(seed) / 1000L + r.nextInt(Hours / 2) * 3600L
      val h1 = h0 + 12 * 3600L
      val got4 = rec.op("read", "hourly", hourly) {
        spark.sql(s"SELECT hour_bucket, max_temperature, min_temperature, event_count FROM $hourly " +
          s"WHERE device_id = '${Gen.deviceId(d3)}' AND hour_bucket BETWEEN $h0 AND $h1 ORDER BY hour_bucket")
          .collect().toSeq.map(x => (x.getLong(0), x.getFloat(1), x.getFloat(2), x.getInt(3)))
      }
      val want4 = hours.filter(h => h.deviceId == Gen.deviceId(d3) && h.hourBucket >= h0 && h.hourBucket <= h1)
        .sortBy(_.hourBucket).map(h => (h.hourBucket, h.max, h.min, h.count))
      check(got4 == want4, s"hourly range of device $d3")

    case _ =>
      val got5 = rec.op("read", "latest", raw) {
        spark.sql(
          s"""SELECT device_id, timestamp, temperature FROM (
             |  SELECT device_id, timestamp, temperature,
             |         row_number() OVER (PARTITION BY device_id ORDER BY timestamp DESC) AS rn
             |  FROM $raw) WHERE rn = 1""".stripMargin)
          .collect().map(x => x.getString(0) -> (x.getLong(1), x.getFloat(2))).toMap
      }
      check(got5 == model.latest.map { case (dv, (ts, rd)) => dv -> (ts, rd.temperature) }, "latest per device")
  }

  /** Six reads before each write: every read class five times a round. */
  def round(): Unit = round(readsPerWrite = 6)

  private def round(readsPerWrite: Int): Unit = {
    val r = new java.util.SplittableRandom(seed * 31L + roundNo)
    roundNo += 1

    reads(r, 0, readsPerWrite)
    val app = Gen.serveReadings(seed, nextK, nextK + AppendPerDevice)
    nextK += AppendPerDevice
    view(app, "serve_append")
    rec.op("write", "append") { spark.sql(s"INSERT INTO $raw SELECT * FROM serve_append") }
    model.upsert(app); timedRows += app.size

    reads(r, 1, readsPerWrite)
    // redelivered readings of the last two appends (about 1% of the
    // table) with corrected values, plus one new reading per device
    val redelivered = (0 until 300).map { _ =>
      val d = r.nextInt(Gen.Devices)
      val k = nextK - 1 - r.nextInt(2 * AppendPerDevice)
      (Gen.deviceId(d), Gen.serveTs(seed, d, k), Reading(Gen.temperature(r), Gen.humidity(r), Gen.locationOf(seed, d)))
    }.groupBy(x => (x._1, x._2)).values.map(_.head).toSeq
    val fresh = Gen.serveReadings(seed, nextK, nextK + 1)
    nextK += 1
    val upserts = redelivered ++ fresh
    view(upserts, "serve_merge")
    rec.op("write", "merge") {
      spark.sql(
        s"""MERGE INTO $raw t USING serve_merge s
           |ON t.device_id = s.device_id AND t.timestamp = s.timestamp
           |WHEN MATCHED THEN UPDATE SET t.temperature = s.temperature, t.humidity = s.humidity,
           |  t.location = s.location
           |WHEN NOT MATCHED THEN INSERT (device_id, timestamp, temperature, humidity, location)
           |  VALUES (s.device_id, s.timestamp, s.temperature, s.humidity, s.location)""".stripMargin)
    }
    model.upsert(upserts); timedRows += upserts.size

    reads(r, 2, readsPerWrite)
    // retention: drop the oldest AppendPerDevice readings of every device
    val cutoff = model.minTs - model.minTs % Gen.ServeStepMs + AppendPerDevice * Gen.ServeStepMs
    rec.op("write", "retention_delete") { spark.sql(s"DELETE FROM $raw WHERE timestamp < $cutoff") }
    model.deleteBefore(cutoff)

    reads(r, 3, readsPerWrite)
    rec.op("write", "optimize") {
      spark.sql(s"OPTIMIZE $raw CLUSTER BY (device_id, timestamp) FILES $CompactedFiles").collect()
    }

    reads(r, 4, readsPerWrite)
    rec.op("write", "vacuum") { spark.sql(s"VACUUM $raw RETAIN 2 EPOCHS").collect() }
  }

  def failures: Seq[String] = problems.toSeq

  def verify(): Seq[String] = {
    val got = spark.sql(s"SELECT device_id, timestamp, temperature, humidity, location FROM $raw " +
      "ORDER BY device_id, timestamp").collect()
      .map(x => (x.getString(0), x.getLong(1), Reading(x.getFloat(2), x.getFloat(3), x.getString(4)))).toSeq
    if (got == model.rows) Nil
    else Seq(s"final raw table differs from the last-write-wins model (${got.size} rows, expected ${model.count})")
  }

  def catalogTables: Seq[String] = Seq(raw, hourly)
  def tableRoots: Seq[File] = Seq(rawRoot, hourlyRoot)
  def storageRoots: Seq[File] = tableRoots
  def liveRows: Long = model.count + hours.size
  def inputRows: Long = timedRows
  def startTimed(): Unit = timedRows = 0L
  def layerMetrics(): Seq[(String, String, Double)] = Nil
}
