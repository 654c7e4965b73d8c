package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Models._

/** The reference models on tiny hand-made inputs, so a fault in a model
  * shows here rather than as a false alarm against the program. */
class ModelsSpec extends AnyFunSuite {

  private val H = 3600000L
  private def ev(ts: Long, t: Float, d: String = "d1") = Event(d, d, ts, t, 50f, "site-1")

  test("watermark: a window finalizes once the watermark passes its end") {
    val m = new WatermarkModel(delayMs = 60000L)
    m.addBatch(Seq(ev(1000, 10f), ev(2000, 20f)))
    assert(m.finalized.isEmpty, "nothing is final before the watermark moves past the hour")
    m.addBatch(Seq(ev(H + 100000, 5f)))
    assert(m.watermark == H + 40000)
    assert(m.finalized == Seq(HourRow("d1", 0L, 15.0, 20f, 10f, 2)))
    assert(m.openWindows == 1)
  }

  test("watermark: late events count while their window is open and drop once it closed") {
    val m = new WatermarkModel(delayMs = 60000L)
    m.addBatch(Seq(ev(H - 1000, 30f)))
    // watermark is now H - 61000: an event 20 s behind it still counts,
    // because its window [0, H) is open
    m.addBatch(Seq(ev(H - 81000, 40f), ev(H + 200000, 1f)))
    assert(m.dropped == 0)
    // watermark H + 140000 closed [0, H): an event for it is late
    m.addBatch(Seq(ev(500, 99f), ev(H + 100000, 3f)))
    assert(m.dropped == 1)
    assert(m.finalized == Seq(HourRow("d1", 0L, 35.0, 40f, 30f, 2)))
    m.addBatch(Seq(ev(2 * H + 70000, 7f)))
    assert(m.finalized.last == HourRow("d1", 3600L, 2.0, 3f, 1f, 2))
  }

  test("watermark: windows are per device") {
    val m = new WatermarkModel(delayMs = 60000L)
    m.addBatch(Seq(ev(10, 1f, "a"), ev(20, 2f, "b"), ev(30, 3f, "a")))
    m.addBatch(Seq(ev(2 * H, 0f, "c")))
    assert(m.finalized.map(r => (r.deviceId, r.count)) == Seq("a" -> 2, "b" -> 1))
  }

  private def r(t: Float, loc: String = "x") = Reading(t, 1f, loc)

  test("last write wins per key; retention drops rows older than the cutoff") {
    val t = new LwwTable
    t.upsert(Seq(("a", 10L, r(1f)), ("a", 20L, r(2f)), ("b", 15L, r(3f, "y"))))
    t.upsert(Seq(("a", 20L, r(9f)), ("a", 30L, r(4f))))
    assert(t.count == 4)
    assert(t.point("a", 2) == Seq(30L -> r(4f), 20L -> r(9f)), "newest first, limited")
    assert(t.range("a", 10L, 20L) == Seq(10L -> r(1f), 20L -> r(9f)), "bounds are inclusive")
    assert(t.location("y") == ((1L, 15L, 15L)))
    assert(t.latest == Map("a" -> (30L -> r(4f)), "b" -> (15L -> r(3f, "y"))))
    assert(t.deleteBefore(20L) == 2)
    assert(t.rows == Seq(("a", 20L, r(9f)), ("a", 30L, r(4f))))
    assert(t.minTs == 20L)
    assert(t.latest.keySet == Set("a"), "a device with no rows has no latest reading")
  }

  test("near-duplicate ground truth: one word changed keeps Jaccard above 0.7") {
    val words = (1 to 40).map(i => s"w$i")
    val a = words.mkString(" ")
    val b = words.updated(20, "zz").mkString(" ")
    assert(shingles(a).size == 38)
    assert(jaccard(shingles(a), shingles(b)) == 35.0 / 41.0)
    val c = new Corpus
    c.add(a)
    assert(c.isExact(a) && !c.isExact(b))
    assert(c.bestJaccard(b) >= 0.7)
    assert(c.bestJaccard((1 to 40).map(i => s"v$i").mkString(" ")) == 0.0)
  }

  test("quality gates and PII patterns") {
    val good = (Seq.fill(12)("alpha") ++ Seq("the", "of")).mkString(" ")
    assert(passesQuality(good))
    assert(!passesQuality("alpha beta gamma delta"), "too short, no stopword")
    assert(!passesQuality(Seq.fill(30)("alpha").mkString(" ")), "no stopword: not English")
    assert(hasPii("mail ab.12@host.com now"))
    assert(hasPii("call +4-555-1234"))
    assert(hasPii("from 10.0.12.7"))
    assert(!hasPii("version 1.2 of the 3 models"))
  }

  test("brute-force top-k and recall") {
    val corpus = Seq(1L -> Array(1f, 0f), 2L -> Array(0.9f, 0.1f), 3L -> Array(0f, 1f), 4L -> Array(1f, 0f))
    assert(bruteTopK(Array(1f, 0f), corpus, 2) == Seq(1L, 4L), "ties go to the smaller id")
    assert(bruteTopK(Array(0f, 2f), corpus, 1) == Seq(3L))
    assert(recall(Map(7L -> Seq(1L, 4L)), Map(7L -> Seq(4L, 2L))) == 0.5)
    assert(recall(Map.empty, Map.empty) == 1.0)
  }

  test("generators are deterministic in the seed") {
    assert(Gen.ingestBatch(5, 3, 4) == Gen.ingestBatch(5, 3, 4))
    assert(Gen.ingestBatch(5, 3, 4) != Gen.ingestBatch(6, 3, 4))
    val g = new Gen.DocGen(9)
    val (a, pa) = g.shard(0, 100, 50, g.preload(20).map(_.text))
    val (b, pb) = new Gen.DocGen(9).shard(0, 100, 50, new Gen.DocGen(9).preload(20).map(_.text))
    assert(a.map(_.text) == b.map(_.text) && pa == pb)
  }

  test("ingest batches plant late events only where the watermark has closed their window") {
    val m = new WatermarkModel(Gen.WatermarkMs)
    (0 until 6).foreach(b => m.addBatch(Gen.ingestBatch(1, b, 10)))
    assert(m.dropped == 4 * 4, "every event planted beyond the watermark drops, no other")
  }
}
