package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: media payloads travel as opaque `binary`
  * columns with typed metadata; decode / feature-extraction runs as a
  * partition-wise batch transform (`mapPartitions` over a typed Dataset
  * — the Scala analog of `mapInPandas`: one JVM-side batch function per
  * partition, arbitrary library calls inside, schema declared up
  * front).
  *
  * Two REAL codec tiers (no stubs):
  *  - Binary PGM (Netpbm P5) encode + parse, pure JVM — see
  *    `pgmFor`/`decodePgm`/`pgmStats` (q_media_decode). The DuckDB
  *    oracle recomputes pixel stats from the generating formula, so
  *    the parser is genuinely on the hook.
  *  - PNG through `javax.imageio.ImageIO` (the JDK registers PNG/JPEG/
  *    BMP/GIF/TIFF readers): `pngFor` encodes a deterministic grayscale
  *    image, `decodeImage` REALLY decodes it, and feature extraction /
  *    resize / frame sampling all compute from the DECODED raster
  *    (q_media_features / q_media_resize / q_media_frames). Because the
  *    decoded pixels follow the shared generating formula, every one of
  *    those queries sits under a full DuckDB oracle — a codec or
  *    raster-offset defect breaks the hash match.
  */
object Multimodal {

  case class MediaRow(doc_id: Long, mime: String, media: Array[Byte])
  case class MediaFeatures(
      doc_id: Long,
      width: Int,
      height: Int,
      n_pixels: Long,
      pixel_sum: Long,
      pixel_max: Long,
      features: Array[Double])

  /** Build the media table: binary payload column + metadata. (The
    * fixtures carry no real media, so text bytes stand in as payload.) */
  def mediaTable(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      lit("text/plain").as("mime"),
      encode(col("text"), "UTF-8").as("media"))

  /** Metadata projection — pure relational ops over the binary column. */
  def mediaMeta(documents: DataFrame): DataFrame =
    mediaTable(documents)
      .select(col("doc_id"), col("mime"), length(col("media")).as("n_bytes"))
      .orderBy("doc_id")

  // ====================================================================
  // REAL codec path #2: PNG via javax.imageio. The engine ENCODES a
  // deterministic grayscale image per document (same pixel formula the
  // DuckDB oracle replays), then DECODES the PNG bytes with a real
  // ImageIO reader and computes everything downstream from the decoded
  // raster. Any defect in the encode, the reader dispatch, or the
  // raster indexing shifts a pixel and breaks the oracle hash.
  // ====================================================================

  /** PNG dimensions per document — wider than the PGM tier so both
    * codecs are exercised on different shapes. */
  private[graft] def pngDims(docId: Long): (Int, Int) =
    ((16 + docId % 17).toInt, (16 + docId % 13).toInt)

  /** Encode the deterministic grayscale image as real PNG bytes.
    * pixel(doc, i) = (doc_id*31 + i*7) % 256 — shared with the oracle. */
  private[graft] def pngFor(docId: Long): Array[Byte] = {
    val (w, h) = pngDims(docId)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var i = 0
    while (i < w * h) {
      raster.setSample(i % w, i / w, 0, ((docId * 31 + i * 7) % 256).toInt)
      i += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL image decode — ImageIO dispatches on the container's magic
    * bytes (PNG/JPEG/BMP/GIF/TIFF readers ship with the JDK). Returns
    * None for undecodable blobs (permissive-decode discipline). */
  private[graft] def decodeImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (bytes == null || bytes.isEmpty) None
    else
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      catch { case _: java.io.IOException => None }

  /** Gray value at (x, y) of a decoded image, whatever the source color
    * model (ImageIO may hand back indexed/RGB rasters for other
    * containers; band 0 of a TYPE_BYTE_GRAY raster is the gray sample). */
  @inline private def sampleAt(img: java.awt.image.BufferedImage, x: Int, y: Int): Int =
    img.getRaster.getSample(x, y, 0)

  private val NumBands = 8

  /** The id input of every partition-wise codec stage, with a
    * DATA-derived fan-out (guide §2.2 — right-size partitions to the
    * input instead of inheriting the session's shuffle.partitions):
    * the decode stages' per-row work is codec CPU, not bytes, so the
    * task count comes from the row count — [[decodeParts]]. The count
    * costs no job of its own: ONE pass over the ids counts each input
    * partition and keeps a bounded reservoir sample of it, and the
    * same pass gives the range bounds, so the lineage feeding
    * `documents` runs twice (this sketch and the decode), as Spark's
    * own range partitioning would run it — not three times. Globally
    * doc_id-ordered: range partitions emit in order and each is sorted
    * below the decode, so the codec chain never re-runs for the
    * ordering. */
  private[graft] def decodeIds(spark: SparkSession, documents: DataFrame): Dataset[Long] = {
    import spark.implicits._
    val ids = documents.select(col("doc_id")).as[Long].rdd
    val rowsPerTask = spark.sessionState.conf
      .getConfString("spark.graft.decode.rowsPerTask", "512").toLong
    val sample = SketchSample
    val sketch = ids.mapPartitionsWithIndex { (i, it) =>
      val rnd = new java.util.Random(i)
      val res = new Array[Long](sample)
      var n = 0L
      it.foreach { v =>
        if (n < sample) res(n.toInt) = v
        else {
          val j = (rnd.nextDouble() * (n + 1)).toLong
          if (j < sample) res(j.toInt) = v
        }
        n += 1
      }
      Iterator((n, res.take(math.min(n, sample.toLong).toInt)))
    }.collect()
    val n = sketch.map(_._1).sum
    val parts = decodeParts(n, rowsPerTask, spark.sparkContext.defaultParallelism)
    // weighted quantiles of the sample: each sampled id stands for
    // count/sampleSize ids of its partition
    val weighted = sketch.flatMap { case (c, s) =>
      s.map(v => (v, c.toDouble / s.length)) }.sortBy(_._1)
    val step = weighted.map(_._2).sum / parts
    val bounds = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cum = 0.0
    weighted.foreach { case (v, w) =>
      cum += w
      if (bounds.size < parts - 1 && cum >= step * (bounds.size + 1) &&
          bounds.lastOption.forall(_ < v)) bounds += v
    }
    val ranges = new IdRanges(bounds.toArray)
    spark.createDataset(ids.map(v => (v, ())).partitionBy(ranges)
      .mapPartitions(it => it.map(_._1).toArray.sorted.iterator,
        preservesPartitioning = true))
  }

  /** Ids sampled per input partition by [[decodeIds]]'s sketch pass. */
  private val SketchSample = 1024

  /** The decode fan-out for `n` ids: `spark.graft.decode.rowsPerTask`
    * (default 512 — at the fixtures' decode cost ~100 ms of honest work
    * per task) sets the count at corpus scale, floored at
    * min(defaultParallelism, ceil(n/64)) so a small corpus still
    * spreads over the cores (a WAV stage at 512 rows per task ran 10
    * tasks on a 32-core box) without splitting below ~64 rows a task. */
  private[graft] def decodeParts(n: Long, rowsPerTask: Long, cores: Int): Int =
    math.max(1L, math.max((n + rowsPerTask - 1) / rowsPerTask,
      math.min(cores.toLong, (n + 63) / 64))).toInt

  /** Partition-wise feature extraction: encode -> REAL ImageIO decode ->
    * spatial pooling over the decoded raster. Features = mean gray value
    * of 8 horizontal bands (band of row y = y*8/h) — the classic pooled-
    * descriptor shape, and exactly recomputable by the SQL oracle. */
  def extractFeatures(spark: SparkSession, documents: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    // Sort the 1-column id input BEFORE the decode stage: a Sort above
    // the decode would re-run the whole codec chain in the range-
    // boundary sampling job (2x decode per query). Range partitions are
    // emitted in order and mapPartitions preserves intra-partition
    // order, so the output is still deterministically doc_id-ordered.
    decodeIds(spark, documents).mapPartitions { ids =>
      ids.flatMap { id =>
        decodeImage(pngFor(id)).map { img =>
          val w = img.getWidth
          val h = img.getHeight
          val bandSum = new Array[Long](NumBands)
          val bandN = new Array[Long](NumBands)
          var sum = 0L
          var max = 0L
          var y = 0
          while (y < h) {
            val band = y * NumBands / h
            var x = 0
            while (x < w) {
              val v = sampleAt(img, x, y).toLong
              sum += v
              if (v > max) max = v
              bandSum(band) += v
              bandN(band) += 1
              x += 1
            }
            y += 1
          }
          MediaFeatures(id, w, h, w.toLong * h, sum, max,
            Array.tabulate(NumBands)(b => bandSum(b).toDouble / bandN(b)))
        }
      }
    }
  }

  /** q_media_features surface: band means unpacked to scalar columns so
    * the driver comparator can hash them (f0..f7). */
  def mediaFeaturesQuery(spark: SparkSession, documents: DataFrame): DataFrame = {
    val base = extractFeatures(spark, documents).toDF()
    base.select(
      (Seq(col("doc_id"), col("width"), col("height"), col("n_pixels"),
        col("pixel_sum"), col("pixel_max")) ++
        (0 until NumBands).map(b => col("features").getItem(b).as(s"f$b"))): _*)
  }

  case class ResizedMedia(doc_id: Long, mime: String, width: Int, height: Int,
                          media: Array[Byte])

  /** Resize pipeline stage: REAL decode, nearest-neighbor downscale
    * (src pixel of dst (x,y) = (x*srcW/dstW, y*srcH/dstH) — integer
    * division, so the oracle replays it exactly), REAL re-encode. The
    * output stays an opaque binary column + typed size metadata, so
    * every downstream relational op treats it like any other column. */
  def resize(spark: SparkSession, documents: DataFrame, w: Int = 8, h: Int = 8): Dataset[ResizedMedia] = {
    import spark.implicits._
    // id input sorted pre-decode for the same reason as extractFeatures
    decodeIds(spark, documents).mapPartitions { ids =>
      ids.flatMap { id =>
        decodeImage(pngFor(id)).map { img =>
          val srcW = img.getWidth
          val srcH = img.getHeight
          val out = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val raster = out.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              raster.setSample(x, y, 0, sampleAt(img, x * srcW / w, y * srcH / h))
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          ResizedMedia(id, "image/png", w, h, bos.toByteArray)
        }
      }
    }
  }

  /** q_media_resize surface: RE-DECODE the resized PNG and report thumb
    * stats from its raster — the full encode->resize->encode->decode
    * chain is on the hook for the oracle hash. */
  def mediaResizeQuery(spark: SparkSession, documents: DataFrame,
                       w: Int = 8, h: Int = 8): DataFrame = {
    import spark.implicits._
    resize(spark, documents, w, h).mapPartitions { rows =>
      rows.flatMap { r =>
        decodeImage(r.media).map { img =>
          var sum = 0L
          var max = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val v = sampleAt(img, x, y).toLong
              sum += v
              if (v > max) max = v
              x += 1
            }
            y += 1
          }
          (r.doc_id, img.getWidth, img.getHeight, sum, max)
        }
      }
    }.toDF("doc_id", "width", "height", "thumb_sum", "thumb_max")
  }

  case class Frame(doc_id: Long, frame_idx: Int, n_px: Int, row_sum: Long)

  /** Frame-sampling stage for video-like payloads: decode, treat each
    * raster scanline as a "frame", emit every strideth one as its own
    * row (one-to-many — the explode/Generator shape, done partition-
    * wise so a real codec seeks rather than materializing everything). */
  def frameSample(spark: SparkSession, documents: DataFrame,
                  stride: Int = 4): Dataset[Frame] = {
    import spark.implicits._
    // id input sorted pre-decode for the same reason as extractFeatures;
    // frames emit per doc in ascending y, so output order is
    // (doc_id, frame_idx) without a post-decode sort.
    decodeIds(spark, documents).mapPartitions { ids =>
      ids.flatMap { id =>
        decodeImage(pngFor(id)).iterator.flatMap { img =>
          val w = img.getWidth
          (0 until img.getHeight by stride).iterator.map { y =>
            var sum = 0L
            var x = 0
            while (x < w) { sum += sampleAt(img, x, y); x += 1 }
            Frame(id, y, w, sum)
          }
        }
      }
    }
  }

  def frameSampleQuery(spark: SparkSession, documents: DataFrame): DataFrame =
    frameSample(spark, documents).toDF()

  // ====================================================================
  // REAL codec path #3: WAV/PCM audio via javax.sound.sampled. The
  // engine ENCODES a deterministic 16-bit mono PCM signal per document
  // through the JDK's real WAV writer (RIFF container), then DECODES
  // the bytes with AudioSystem's real WAV reader and computes signal
  // features from the decoded samples. The DuckDB oracle replays the
  // generating formula, so the RIFF header writer, the reader dispatch,
  // and the little-endian sample unpacking are all on the hook for the
  // hash match — same discipline as the PGM/PNG tiers.
  // ====================================================================

  private val WavSampleRate = 8000f

  /** Deterministic sample formula shared with the DuckDB oracle:
    * sample(doc, i) = (doc_id*37 + i*11) % 4001 - 2000 (int16-safe). */
  @inline private[graft] def wavSample(docId: Long, i: Int): Int =
    ((docId * 37 + i * 11) % 4001 - 2000).toInt

  private[graft] def wavNumSamples(docId: Long): Int = (64 + docId % 33).toInt

  /** Encode the deterministic signal as real WAV bytes (PCM_SIGNED,
    * 16-bit little-endian, mono) through the JDK's RIFF writer. */
  private[graft] def wavFor(docId: Long): Array[Byte] = {
    val n = wavNumSamples(docId)
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = wavSample(docId, i)
      pcm(i * 2) = (s & 0xff).toByte
      pcm(i * 2 + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(WavSampleRate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  final case class PcmAudio(sampleRate: Float, channels: Int, samples: Array[Int])

  /** REAL audio decode — AudioSystem dispatches on the RIFF header and
    * hands back the format + raw frames; samples are unpacked by the
    * DECLARED format (endianness, width, signedness), not by
    * assumption. None for undecodable blobs (permissive-decode
    * discipline shared with decodeImage/decodePgm). */
  private[graft] def decodeWav(bytes: Array[Byte]): Option[PcmAudio] =
    if (bytes == null || bytes.isEmpty) None
    else try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16 ||
        fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) None
      else {
        val raw = ais.readAllBytes()
        val n = raw.length / (2 * fmt.getChannels)
        val out = new Array[Int](n * fmt.getChannels)
        var i = 0
        while (i < out.length) {
          val lo = raw(i * 2) & 0xff
          val hi = raw(i * 2 + 1)
          out(i) = if (fmt.isBigEndian) ((lo << 8) | (hi & 0xff)).toShort.toInt
                   else ((hi << 8) | lo).toShort.toInt
          i += 1
        }
        Some(PcmAudio(fmt.getSampleRate, fmt.getChannels, out))
      }
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException => None
    }

  case class AudioFeatures(doc_id: Long, n_samples: Int, sample_rate: Int,
                           n_channels: Int, abs_sum: Long, peak: Long,
                           zero_crossings: Long)

  /** Audio feature extraction: encode -> REAL WAV decode -> integer
    * signal stats from the decoded samples (abs-sum, peak, strict
    * sign-change zero crossings — all exactly recomputable by the SQL
    * oracle; RMS-style doubles would not hash cross-engine). */
  def audioFeatures(spark: SparkSession, documents: DataFrame): DataFrame = {
    import spark.implicits._
    // id input sorted pre-decode for the same reason as extractFeatures
    decodeIds(spark, documents).mapPartitions { ids =>
      ids.flatMap { id =>
        decodeWav(wavFor(id)).map { audio =>
          val s = audio.samples
          var absSum = 0L
          var peak = 0L
          var zc = 0L
          var i = 0
          while (i < s.length) {
            val a = math.abs(s(i)).toLong
            absSum += a
            if (a > peak) peak = a
            if (i > 0 && s(i).toLong * s(i - 1) < 0) zc += 1
            i += 1
          }
          AudioFeatures(id, s.length, audio.sampleRate.toInt, audio.channels,
            absSum, peak, zc)
        }
      }
    }.toDF()
  }

  case class ResampledAudio(doc_id: Long, sample_rate: Int, n_samples: Int,
                            abs_sum: Long, peak: Long)

  /** Audio resample stage (the audio analog of image `resize`):
    * REAL WAV decode -> ANTI-ALIASED decimation by `factor` (each
    * output sample is the floor-mean of its `factor`-sample block — a
    * box-FIR low-pass fused with the stride, the textbook average-
    * pooling decimator; a bare stride would alias every component above
    * the new Nyquist into the output) -> REAL WAV re-encode at
    * rate/factor -> REAL re-decode of the resampled container, stats
    * from ITS samples. floor(sum/len) is integer-exact, so the oracle
    * replays filter+stride verbatim and the full
    * encode->filter->stride->encode->decode chain is on the hook for
    * the hash, exactly like mediaResizeQuery's thumb stats.
    * Mono only (None otherwise): block-pooling a flat interleaved
    * array would mix channels — multi-channel needs per-frame strides. */
  def audioResampleQuery(spark: SparkSession, documents: DataFrame,
                         factor: Int = 4): DataFrame = {
    import spark.implicits._
    // id input sorted pre-decode for the same reason as extractFeatures
    decodeIds(spark, documents).mapPartitions { ids =>
      ids.flatMap { id =>
        decodeWav(wavFor(id)).filter(_.channels == 1).flatMap { audio =>
          val s = audio.samples
          val kept = Array.tabulate((s.length + factor - 1) / factor) { j =>
            val start = j * factor
            val end = math.min(start + factor, s.length)
            var sum = 0L
            var i = start
            while (i < end) { sum += s(i); i += 1 }
            Math.floorDiv(sum, (end - start).toLong).toInt
          }
          val pcm = new Array[Byte](kept.length * 2)
          var i = 0
          while (i < kept.length) {
            pcm(i * 2) = (kept(i) & 0xff).toByte
            pcm(i * 2 + 1) = ((kept(i) >> 8) & 0xff).toByte
            i += 1
          }
          val outRate = audio.sampleRate / factor
          val fmt = new javax.sound.sampled.AudioFormat(outRate, 16, 1, true, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, kept.length.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(
            ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          decodeWav(bos.toByteArray).map { re =>
            var absSum = 0L
            var peak = 0L
            re.samples.foreach { s =>
              val a = math.abs(s).toLong
              absSum += a
              if (a > peak) peak = a
            }
            ResampledAudio(id, re.sampleRate.toInt, re.samples.length, absSum, peak)
          }
        }
      }
    }.toDF()
  }

  // ====================================================================
  // REAL codec path: binary PGM (Netpbm P5) — a production image format
  // simple enough to encode/decode in pure JVM, no codec libraries.
  // The engine builds actual P5 binaries (header + raw 8-bit pixels),
  // and decodePgm is a REAL parser: magic check, whitespace/comment
  // handling, maxval, raw pixel section. The oracle recomputes the
  // pixel statistics from the generating formula — if the encoder or
  // the parser mangled a single header byte or pixel offset, the
  // round-tripped stats would not match.
  // ====================================================================

  /** Deterministic pixel formula shared with the DuckDB oracle:
    * pixel(doc, i) = (doc_id*31 + i*7) % 256. */
  private[graft] def pgmFor(docId: Long): Array[Byte] = {
    val w = (8 + docId % 9).toInt
    val h = (8 + docId % 7).toInt
    val header = s"P5\n# graft synthetic\n$w $h\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + w * h)
    System.arraycopy(header, 0, out, 0, header.length)
    var i = 0
    while (i < w * h) {
      out(header.length + i) = ((docId * 31 + i * 7) % 256).toByte
      i += 1
    }
    out
  }

  final case class Pgm(width: Int, height: Int, maxVal: Int, pixels: Array[Byte])

  /** Parse a binary PGM (P5). Returns None for anything malformed —
    * wrong magic, truncated pixel section, oversized maxval — rather
    * than throwing, so a corrupt blob degrades to a skipped row (the
    * permissive-decode discipline the Avro path also follows). */
  private[graft] def decodePgm(bytes: Array[Byte]): Option[Pgm] = {
    var pos = 0
    def skipWs(): Unit = {
      var in = true
      while (in && pos < bytes.length) {
        val c = bytes(pos)
        if (c == '#') { while (pos < bytes.length && bytes(pos) != '\n') pos += 1 }
        else if (c == ' ' || c == '\t' || c == '\n' || c == '\r') pos += 1
        else in = false
      }
    }
    def readInt(): Option[Int] = {
      skipWs()
      val start = pos
      while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') pos += 1
      if (pos == start) None
      else Some(new String(bytes, start, pos - start, "US-ASCII").toInt)
    }
    if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '5') return None
    pos = 2
    for {
      w <- readInt()
      h <- readInt()
      maxVal <- readInt()
      if maxVal > 0 && maxVal < 256 && w > 0 && h > 0
      // exactly ONE whitespace byte separates maxval from the raster
      if pos < bytes.length && { pos += 1; bytes.length - pos >= w * h }
    } yield Pgm(w, h, maxVal, java.util.Arrays.copyOfRange(bytes, pos, pos + w * h))
  }

  case class PgmStats(doc_id: Long, width: Int, height: Int, n_pixels: Long,
                      pixel_sum: Long, pixel_max: Long)

  /** Real decode pipeline: build P5 binaries, parse them back, compute
    * stats from the DECODED pixels. Partition-wise like the stubs, but
    * nothing here is fake — the parser is on the hook for every value
    * the oracle checks. */
  def pgmStats(spark: SparkSession, documents: DataFrame): DataFrame = {
    import spark.implicits._
    // id input sorted pre-decode for the same reason as extractFeatures
    decodeIds(spark, documents).mapPartitions { ids =>
      ids.flatMap { id =>
        decodePgm(pgmFor(id)).map { img =>
          var sum = 0L
          var max = 0L
          var i = 0
          while (i < img.pixels.length) {
            val v = (img.pixels(i) & 0xff).toLong
            sum += v
            if (v > max) max = v
            i += 1
          }
          PgmStats(id, img.width, img.height, img.pixels.length.toLong, sum, max)
        }
      }
    }.toDF()
  }

  // ====================================================================
  // Perceptual-hash image dedup (round 10): dHash over the REAL PNG
  // decode path + the SimHash band-blocking discipline applied to
  // images. dHash (difference hash — public technique, e.g. the
  // classic Hacker Factor description) is the standard cheap
  // perceptual fingerprint: resize to a (w+1) x h grid, emit one bit
  // per horizontal gradient sign. Gradients cancel global
  // brightness/contrast shifts, which is exactly why two renditions of
  // the same image land within a few bits of each other.
  // ====================================================================

  /** 64-bit dHash, carried as FOUR 16-bit band values rather than one
    * long: (a) no sign-bit overflow surface in either engine, and
    * (b) the bands ARE the LSH blocking keys — by pigeonhole, two
    * hashes within Hamming distance d < 4 agree on at least one band,
    * so the banded join below is exact for d <= 3, the same theorem
    * the SimHash text path rides. Bit (r*8+c) = 1 iff the decoded
    * 9x8-resized raster has px[r][c] < px[r][c+1]. */
  case class ImageHash(doc_id: Long, b0: Int, b1: Int, b2: Int, b3: Int)

  def imageDHash(spark: SparkSession, documents: DataFrame): Dataset[ImageHash] = {
    import spark.implicits._
    // id input sorted pre-decode for the same reason as extractFeatures
    decodeIds(spark, documents).mapPartitions { ids =>
      ids.flatMap { id =>
        decodeImage(pngFor(id)).map { img =>
          val sw = img.getWidth
          val sh = img.getHeight
          val px = Array.ofDim[Int](8, 9)
          var r = 0
          while (r < 8) {
            var c = 0
            while (c < 9) { px(r)(c) = sampleAt(img, c * sw / 9, r * sh / 8); c += 1 }
            r += 1
          }
          val bands = new Array[Int](4)
          r = 0
          while (r < 8) {
            var c = 0
            while (c < 8) {
              if (px(r)(c) < px(r)(c + 1)) {
                val bit = r * 8 + c
                bands(bit / 16) |= 1 << (bit % 16)
              }
              c += 1
            }
            r += 1
          }
          ImageHash(id, bands(0), bands(1), bands(2), bands(3))
        }
      }
    }
  }

  /** Near-duplicate image pairs within Hamming distance `maxDist`
    * (default 2): band-blocked candidate join + exact popcount verify.
    * The hash table is one narrow row per image; candidates come from
    * an equality join on (band index, band value) — the all-pairs
    * product never exists in the plan, the 100 TB shape shared with
    * every similarity join in `Dedup`. The ORACLE is the opposite
    * algorithm (all-pairs popcount over the formula-replayed hashes),
    * so a green hash is the band-pigeonhole theorem + the full
    * encode->decode->resize->gradient chain agreeing, not two copies
    * of one plan. */
  /** Memoized hash-table artifact (the Bpe/BM25/IVF discipline applied
    * to the image tier): the decode->resize->gradient pass over the
    * corpus runs ONCE per session + corpus plan into a persisted
    * (doc_id, b0..b3) parquet — every later near-dup join, cross-batch
    * probe, or re-run reads 20 bytes per image instead of re-decoding
    * it. At 100 TB of images the decode pass dominates everything
    * downstream by orders of magnitude; the artifact is the hand-off
    * an image-dedup deployment ships. */
  def dhashDir(spark: SparkSession, documents: DataFrame): String = {
    val key = s"dhash:${documents.queryExecution.analyzed.semanticHash()}"
    AnnIndex.artifact(spark, key) { dir =>
      imageDHash(spark, documents).toDF()
        .write.mode("overwrite").parquet(s"$dir/hashes")
    }
  }

  def dhashNearDupPairs(spark: SparkSession, documents: DataFrame,
                        maxDist: Int = 2): DataFrame = {
    require(maxDist <= 3, "4x16-bit banding is exact only for distance <= 3")
    val hashes = spark.read.parquet(s"${dhashDir(spark, documents)}/hashes")
    val banded = hashes.select(col("doc_id"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))).as(Seq("band", "v")))
    val cand = banded
      .join(banded.select(col("doc_id").as("doc_b"), col("band"), col("v")),
        Seq("band", "v"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))
      .distinct()
    val aSide = hashes.select(col("doc_id").as("doc_a"), col("b0").as("a0"),
      col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
    val bSide = hashes.select(col("doc_id").as("doc_b"), col("b0").as("c0"),
      col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
    cand.join(aSide, Seq("doc_a")).join(bSide, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (bit_count(col("a0").bitwiseXOR(col("c0"))) +
          bit_count(col("a1").bitwiseXOR(col("c1"))) +
          bit_count(col("a2").bitwiseXOR(col("c2"))) +
          bit_count(col("a3").bitwiseXOR(col("c3")))).as("dist"))
      .filter(col("dist") <= maxDist)
      .orderBy("doc_a", "doc_b")
  }
}

/** Range partitioner over sorted, distinct upper bounds: id `v` goes to
  * the first partition whose bound is >= v (the last takes the rest). */
private[llm] final class IdRanges(bounds: Array[Long]) extends org.apache.spark.Partitioner {
  override def numPartitions: Int = bounds.length + 1
  override def getPartition(key: Any): Int = {
    val i = java.util.Arrays.binarySearch(bounds, key.asInstanceOf[Long])
    if (i >= 0) i else -(i + 1)
  }
}
