package perfbench

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryEncoder, EncoderFactory}

import perfbench.Models.{Event, Reading}

/** Seeded input generators. The same seed gives the same inputs. */
object Gen {

  val Devices = 100
  val Locations: IndexedSeq[String] = (1 to 10).map(i => s"site-$i")
  def deviceId(d: Int): String = f"sensor-$d%03d"
  def locationOf(seed: Long, d: Int): String =
    Locations(Math.floorMod((d * 7 + seed).toInt, Locations.size))

  /** Hour-aligned start of event time, moved by the seed. */
  def epochStart(seed: Long): Long = 1700000000000L / 3600000L * 3600000L + Math.floorMod(seed, 97L) * 3600000L

  private def rng(seed: Long, stream: Long, i: Long) =
    new java.util.SplittableRandom(seed * 1000003L + stream * 7919L + i)

  def temperature(r: java.util.SplittableRandom): Float = (1500 + r.nextInt(2000)) / 100f
  def humidity(r: java.util.SplittableRandom): Float = (3000 + r.nextInt(5000)) / 100f

  // ---------------------------------------------------------------- ingest

  /** Event-time span of one ingest batch: three batches fill an hour, so
    * windows finalize and their state is evicted as the run goes on. */
  val BatchSpanMs = 1200000L
  val WatermarkMs = 60000L

  /** Batch `b` of the ingest stream: `perDevice` readings from each device,
    * evenly spread over the batch's event-time span. About 2% arrive out
    * of order but inside the watermark (up to 50 s early in event time);
    * from batch 2 on, 4 per batch arrive 2 to 2.5 hours late, into windows
    * the watermark closed before this batch and before the one ahead of
    * it. Rows are
    * shuffled so no partition sees time in order. */
  def ingestBatch(seed: Long, b: Int, perDevice: Int): IndexedSeq[Event] = {
    val r = rng(seed, 1, b)
    val start = epochStart(seed) + b * BatchSpanMs
    val step = BatchSpanMs / perDevice
    val events = for (k <- 0 until perDevice; d <- 0 until Devices) yield {
      val nominal = start + k * step + d
      val ts = if (r.nextInt(100) < 2) nominal - 1000L * (1 + r.nextInt(49)) - 500L else nominal
      Event(deviceId(d), s"Sensor $d", ts, temperature(r), humidity(r), locationOf(seed, d))
    }
    val late =
      if (b < 2) Nil
      else (0 until 4).map { i =>
        val d = r.nextInt(Devices)
        Event(deviceId(d), s"Sensor $d", start - 7200500L - 1000L * r.nextInt(1800) - i,
          temperature(r), humidity(r), locationOf(seed, d))
      }
    shuffle(events ++ late, r)
  }

  private def shuffle[T](xs: IndexedSeq[T], r: java.util.SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  /** The producer's contract, written out here rather than taken from
    * the program: a decode mismatch then fails the ingest check. */
  val SensorEventSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"SensorEvent","namespace":"graft.iot","fields":[
      |{"name":"device_id","type":"string"},
      |{"name":"device_name","type":["null","string"],"default":null},
      |{"name":"timestamp","type":"long"},
      |{"name":"temperature","type":"float"},
      |{"name":"humidity","type":"float"},
      |{"name":"location","type":["null","string"],"default":null}]}""".stripMargin)

  /** Confluent wire format: magic byte 0, big-endian schema id, Avro body. */
  final class AvroEncoder(schemaId: Int) {
    private val writer = new GenericDatumWriter[GenericRecord](SensorEventSchema)
    private var enc: BinaryEncoder = _
    def encode(e: Event): Array[Byte] = {
      val rec = new GenericData.Record(SensorEventSchema)
      rec.put("device_id", e.deviceId); rec.put("device_name", e.deviceName)
      rec.put("timestamp", e.ts); rec.put("temperature", e.temperature)
      rec.put("humidity", e.humidity); rec.put("location", e.location)
      val out = new ByteArrayOutputStream(64)
      out.write(0)
      out.write(ByteBuffer.allocate(4).putInt(schemaId).array())
      enc = EncoderFactory.get.binaryEncoder(out, enc)
      writer.write(rec, enc)
      enc.flush()
      out.toByteArray
    }
  }

  // ----------------------------------------------------------------- serve

  /** Serve's readings are one per device every `ServeStepMs`; a device's
    * k-th reading sits at `epochStart + k * step + d`, so keys never collide. */
  val ServeStepMs = 60000L
  def serveTs(seed: Long, d: Int, k: Long): Long = epochStart(seed) + k * ServeStepMs + d

  /** Readings k in [from, until) of every device. */
  def serveReadings(seed: Long, from: Long, until: Long): IndexedSeq[(String, Long, Reading)] = {
    val r = rng(seed, 2, from)
    for (k <- from until until; d <- 0 until Devices) yield
      (deviceId(d), serveTs(seed, d, k), Reading(temperature(r), humidity(r), locationOf(seed, d)))
  }

  /** Hourly rows for serve's read-only aggregate table. */
  def serveHourly(seed: Long, hours: Int): IndexedSeq[Models.HourRow] = {
    val r = rng(seed, 3, 0)
    for (h <- 0 until hours; d <- 0 until Devices) yield {
      val lo = temperature(r); val hi = lo + r.nextInt(500) / 100f
      Models.HourRow(deviceId(d), epochStart(seed) / 1000L + h * 3600L, (lo + hi) / 2.0, hi, lo, 30 + r.nextInt(30))
    }
  }

  // ---------------------------------------------------------------- curate

  val Dim = 64

  final case class Doc(id: Long, text: String, embedding: Array[Float])

  /** What a generated shard plants, for the counts the check reports. */
  final case class Planted(exactOfCorpus: Int, nearOfCorpus: Int, inShardExact: Int,
                           lowQuality: Int, pii: Int)

  private def vocab(seed: Long): IndexedSeq[String] = {
    val r = rng(seed, 4, 0)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    (0 until 4000).map { _ =>
      val n = 3 + r.nextInt(6)
      (0 until n).map(_ => letters.charAt(r.nextInt(26))).mkString
    }.distinct.filterNot(Models.Stopwords.contains)
  }

  private val stop = Models.Stopwords.toIndexedSeq.sorted

  /** A fresh document: 40-70 words, about one in six a stopword. */
  def freshText(words: IndexedSeq[String], r: java.util.SplittableRandom): String =
    (0 until 40 + r.nextInt(31)).map { _ =>
      if (r.nextInt(6) == 0) stop(r.nextInt(stop.size)) else words(r.nextInt(words.size))
    }.mkString(" ")

  /** Embeddings sit near one of 48 seeded cluster centres, so every
    * vector has planted neighbours. */
  final class Embedder(seed: Long) {
    private val centres: IndexedSeq[Array[Float]] = {
      val r = rng(seed, 5, 0)
      (0 until 48).map(_ => Array.fill(Dim)((r.nextDouble() * 2 - 1).toFloat))
    }
    def near(base: Array[Float], r: java.util.SplittableRandom, noise: Double): Array[Float] =
      base.map(x => (x + (r.nextDouble() * 2 - 1) * noise).toFloat)
    def fresh(r: java.util.SplittableRandom): Array[Float] =
      near(centres(r.nextInt(centres.size)), r, 0.35)
  }

  final class DocGen(seed: Long) {
    val words: IndexedSeq[String] = vocab(seed)
    val embedder = new Embedder(seed)

    def preload(n: Int): IndexedSeq[Doc] = {
      val r = rng(seed, 6, 0)
      (0 until n).map(i => Doc(i.toLong, freshText(words, r), embedder.fresh(r)))
    }

    /** Shard `s` of `n` documents with ids from `firstId`. It plants exact
      * and near copies of clean corpus documents (never of redacted ones,
      * whose stored text differs), in-shard exact copies, low-quality
      * documents and documents carrying PII. */
    def shard(s: Int, firstId: Long, n: Int, cleanCorpus: IndexedSeq[String]): (IndexedSeq[Doc], Planted) = {
      val r = rng(seed, 7, s)
      var (ex, near, inShard, low, pii) = (0, 0, 0, 0, 0)
      val docs = scala.collection.mutable.ArrayBuffer[Doc]()
      var id = firstId
      while (docs.size < n) {
        val kind = r.nextInt(100)
        val text =
          if (kind < 4 && cleanCorpus.nonEmpty) { ex += 1; cleanCorpus(r.nextInt(cleanCorpus.size)) }
          else if (kind < 10 && cleanCorpus.nonEmpty) {
            near += 1
            val t = tokens(cleanCorpus(r.nextInt(cleanCorpus.size)))
            val i = r.nextInt(t.length)
            t(i) = words(r.nextInt(words.size))
            t.mkString(" ")
          } else if (kind < 13 && docs.nonEmpty) { inShard += 1; docs(r.nextInt(docs.size)).text }
          else if (kind < 17) { low += 1; (0 until 6).map(_ => words(r.nextInt(words.size))).mkString(" ") }
          else if (kind < 25) {
            pii += 1
            val t = tokens(freshText(words, r))
            val at = r.nextInt(t.length)
            t(at) = r.nextInt(3) match {
              case 0 => s"${words(r.nextInt(words.size))}.${r.nextInt(100)}@${words(r.nextInt(words.size))}.com"
              case 1 => s"+${1 + r.nextInt(9)}-${100 + r.nextInt(900)}-${1000 + r.nextInt(9000)}"
              case _ => s"10.${r.nextInt(256)}.${r.nextInt(256)}.${1 + r.nextInt(254)}"
            }
            t.mkString(" ")
          } else freshText(words, r)
        docs += Doc(id, text, embedder.fresh(r))
        id += 1
      }
      (docs.toIndexedSeq, Planted(ex, near, inShard, low, pii))
    }

    /** ANN probe vectors: each a small perturbation of a corpus vector. */
    def probes(round: Int, corpus: IndexedSeq[Array[Float]], n: Int): IndexedSeq[Array[Float]] = {
      val r = rng(seed, 8, round)
      (0 until n).map(_ => embedder.near(corpus(r.nextInt(corpus.size)), r, 0.05))
    }
  }

  private def tokens(text: String): Array[String] = text.split(" ", -1)
}
