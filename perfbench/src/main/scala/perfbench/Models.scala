package perfbench

import scala.collection.immutable.TreeMap
import scala.collection.mutable

/** Reference models the benchmark checks the program against. They are
  * plain Scala over the generated inputs and share no code with the
  * program, so a fault in the program cannot also hide in its check. */
object Models {

  // ---------------------------------------------------------------- ingest

  final case class Event(deviceId: String, deviceName: String, ts: Long,
                         temperature: Float, humidity: Float, location: String)

  /** One finalized hourly window, as the aggregate table stores it. */
  final case class HourRow(deviceId: String, hourBucket: Long, avg: Double,
                           max: Float, min: Float, count: Int)

  /** Event-time watermark with tumbling windows, fed batch by batch.
    *
    * Before each batch the watermark is the largest event time of all
    * earlier batches minus `delayMs` (0 before the first batch). A window
    * is closed once its end is at or below the watermark: it is final,
    * and an event that falls into a closed window is late and dropped.
    * Events older than the watermark whose window is still open count. */
  final class WatermarkModel(delayMs: Long, windowMs: Long = 3600000L) {
    private var maxTs = Long.MinValue
    private var mark = 0L
    private final class Acc(var sum: Double, var max: Float, var min: Float, var n: Int)
    private val open = mutable.HashMap[(String, Long), Acc]()
    private var droppedN = 0L

    def watermark: Long = mark
    def dropped: Long = droppedN

    def addBatch(events: Seq[Event]): Unit = {
      events.foreach { e =>
        val key = (e.deviceId, Math.floorDiv(e.ts, windowMs) * windowMs)
        if (key._2 + windowMs <= mark) droppedN += 1
        else {
          open.get(key) match {
            case Some(a) =>
              a.sum += e.temperature.toDouble; a.n += 1
              if (e.temperature > a.max) a.max = e.temperature
              if (e.temperature < a.min) a.min = e.temperature
            case None =>
              open(key) = new Acc(e.temperature.toDouble, e.temperature, e.temperature, 1)
          }
        }
      }
      if (events.nonEmpty) maxTs = math.max(maxTs, events.iterator.map(_.ts).max)
      if (maxTs != Long.MinValue) mark = math.max(mark, maxTs - delayMs)
    }

    /** Windows whose end is at or below the current watermark. */
    def finalized: Seq[HourRow] =
      open.iterator.collect {
        case ((d, start), a) if start + windowMs <= mark =>
          HourRow(d, start / 1000L, a.sum / a.n, a.max, a.min, a.n)
      }.toSeq.sortBy(r => (r.deviceId, r.hourBucket))

    def openWindows: Int = open.count { case ((_, s), _) => s + windowMs > mark }
  }

  // ----------------------------------------------------------------- serve

  final case class Reading(temperature: Float, humidity: Float, location: String)

  /** A Cassandra-style table keyed by (device, timestamp): a write to an
    * existing key replaces the row (last write wins), retention removes
    * every row older than a cutoff. */
  final class LwwTable {
    private var byDevice = Map.empty[String, TreeMap[Long, Reading]]

    def upsert(rows: Iterable[(String, Long, Reading)]): Unit =
      rows.foreach { case (d, ts, r) =>
        byDevice = byDevice.updated(d, byDevice.getOrElse(d, TreeMap.empty[Long, Reading]).updated(ts, r))
      }

    def deleteBefore(cutoff: Long): Int = {
      var n = 0
      byDevice = byDevice.map { case (d, m) =>
        val (old, kept) = m.partition(_._1 < cutoff)
        n += old.size
        d -> kept
      }
      n
    }

    def count: Long = byDevice.valuesIterator.map(_.size.toLong).sum

    /** Newest-first rows of one device, at most `limit`. */
    def point(d: String, limit: Int): Seq[(Long, Reading)] =
      byDevice.get(d).map(_.toSeq.reverse.take(limit)).getOrElse(Nil)

    /** Rows of one device with `lo <= ts <= hi`, oldest first. */
    def range(d: String, lo: Long, hi: Long): Seq[(Long, Reading)] =
      byDevice.get(d).map(_.range(lo, hi + 1).toSeq).getOrElse(Nil)

    /** (rows, min ts, max ts) of one location. */
    def location(loc: String): (Long, Long, Long) = {
      var (n, lo, hi) = (0L, Long.MaxValue, Long.MinValue)
      byDevice.valuesIterator.foreach(_.foreach { case (ts, r) =>
        if (r.location == loc) { n += 1; lo = math.min(lo, ts); hi = math.max(hi, ts) }
      })
      (n, lo, hi)
    }

    /** Newest row of every device that has one. */
    def latest: Map[String, (Long, Reading)] =
      byDevice.collect { case (d, m) if m.nonEmpty => d -> m.last }

    def minTs: Long = byDevice.valuesIterator.filter(_.nonEmpty).map(_.firstKey).min

    def rows: Seq[(String, Long, Reading)] =
      byDevice.toSeq.sortBy(_._1).flatMap { case (d, m) => m.toSeq.map { case (ts, r) => (d, ts, r) } }
  }

  // ---------------------------------------------------------------- curate

  val ShingleSize = 3

  def tokens(text: String): Array[String] = text.split(" ", -1)

  /** Distinct word n-grams of a text. */
  def shingles(text: String, n: Int = ShingleSize): Set[String] = {
    val t = tokens(text)
    if (t.length < n) Set(t.mkString(" ")) else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** The standing corpus as the dedup step sees it: exact texts and an
    * inverted shingle index for Jaccard candidates. */
  final class Corpus {
    private val texts = mutable.HashSet[String]()
    private val sets = mutable.ArrayBuffer[Set[String]]()
    private val index = mutable.HashMap[String, mutable.ArrayBuffer[Int]]()

    def size: Int = sets.size
    def add(text: String): Unit = {
      texts += text
      val s = shingles(text)
      val i = sets.size
      sets += s
      s.foreach(sh => index.getOrElseUpdate(sh, mutable.ArrayBuffer[Int]()) += i)
    }
    def isExact(text: String): Boolean = texts.contains(text)
    /** Highest Jaccard of `text` against any corpus text (0 if none shares a shingle). */
    def bestJaccard(text: String): Double = {
      val s = shingles(text)
      val cands = s.iterator.flatMap(sh => index.getOrElse(sh, Nil)).toSet
      if (cands.isEmpty) 0.0 else cands.iterator.map(i => jaccard(s, sets(i))).max
    }
  }

  val Stopwords: Set[String] = Set("the", "a", "an", "and", "of", "to", "in", "is", "on", "for", "with", "at", "by")

  /** The published curation gates: 10..2000 tokens, mean word length 3..10,
    * at least one stopword, and a stopword share above 5% for English. */
  def passesQuality(text: String): Boolean = {
    val t = tokens(text)
    val n = t.length
    val avgWordLen = (text.length - n + 1).toDouble / n
    val stopShare = t.count(Stopwords.contains).toDouble / n
    val score = (if (n >= 10 && n <= 2000) 0.5 else 0.0) +
      (if (avgWordLen >= 3.0 && avgWordLen <= 10.0) 0.3 else 0.0) +
      (if (stopShare > 0.0) 0.2 else 0.0)
    stopShare > 0.05 && score >= 0.7
  }

  val Email = "[a-z0-9._]+@[a-z0-9]+\\.(com|org|net)".r
  val Phone = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}".r
  val Ipv4 = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}".r

  def hasPii(text: String): Boolean =
    Email.findFirstIn(text).isDefined || Phone.findFirstIn(text).isDefined ||
      Ipv4.findFirstIn(text).isDefined

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var (dot, na, nb) = (0.0, 0.0, 0.0)
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Exact top-k ids by cosine, ties to the smaller id. */
  def bruteTopK(q: Array[Float], corpus: Iterable[(Long, Array[Float])], k: Int): Seq[Long] =
    corpus.iterator.map { case (id, v) => (id, cosine(q, v)) }.toSeq
      .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)

  /** Share of the exact neighbours the approximate answer found. */
  def recall(exact: Map[Long, Seq[Long]], approx: Map[Long, Seq[Long]]): Double = {
    val total = exact.valuesIterator.map(_.size).sum
    val hits = exact.iterator.map { case (q, ids) =>
      val got = approx.getOrElse(q, Nil).toSet
      ids.count(got.contains)
    }.sum
    if (total == 0) 1.0 else hits.toDouble / total
  }
}
