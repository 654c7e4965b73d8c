package graft

import org.apache.spark.sql.functions._

import graft.llm.{Dedup, TextOps}

/** Prefix-filtered exact n-gram Jaccard join, connected-components
  * dedup clustering, and PII redaction. */
class DedupClusterSpec extends SparkTestBase {

  private def docs = Tables.documents(spark, sf)

  test("prefix-filtered n-gram join equals the brute-force all-pairs join exactly") {
    val fast = Dedup.ngramJaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = Dedup.ngramJaccardAllPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fast == brute, s"prefix filter missed or invented pairs (fast=${fast.size}, brute=${brute.size})")
    assert(brute.nonEmpty, "fixture should contain planted near-dups")
  }

  test("rarest-first prefix ordering collapses candidates on a boilerplate corpus") {
    import spark.implicits._
    // 200 docs all sharing a 10-word boilerplate template (its shingles
    // have df=200 — the hot-shingle case), each with 12 unique content
    // words; every i%20==1 doc is a planted near-dup of doc i-1.
    val template = "the quick brown fox jumps over the lazy dog today".split(" ").toSeq
    def content(i: Int) = (0 until 12).map(j => s"w${i}_$j")
    val fixture = (0 until 200).map { i =>
      val words =
        if (i % 20 == 1) template ++ content(i - 1).updated(11, s"v$i")
        else template ++ content(i)
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")

    val cHash = Dedup.ngramCandidatePairs(fixture, 3, 0.5, rarestFirst = false).count()
    val cDf = Dedup.ngramCandidatePairs(fixture, 3, 0.5, rarestFirst = true).count()
    // Hash-ordered prefixes are a uniform sample, so the df=200
    // template shingles land in ~every prefix and candidates approach
    // all-pairs; df-ordered prefixes fill with df=1 content shingles
    // first and candidates track the planted pairs.
    assert(cDf * 10 <= cHash,
      s"rarest-first should cut candidates >=10x here: df=$cDf hash=$cHash")
    info(s"candidate pairs: positional/hash order = $cHash, rarest-first = $cDf " +
      f"(${cHash.toDouble / cDf}%.0fx reduction)")

    // The ordering is correctness-invariant: both equal brute force.
    val brute = Dedup.ngramJaccardAllPairs(fixture, 3, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaDf = Dedup.ngramJaccardPairs(fixture, 3, 0.5, rarestFirst = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaHash = Dedup.ngramJaccardPairs(fixture, 3, 0.5, rarestFirst = false).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaDf == brute, s"df-order lost pairs: ${brute -- viaDf}")
    assert(viaHash == brute)
    assert(brute.size >= 10, "fixture should plant >=10 near-dup pairs")
  }

  test("no cross join in the prefix-filter plan") {
    val p = Dedup.ngramJaccardPairs(docs).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("connected components on a hand-built graph") {
    import spark.implicits._
    // Components: {1,2,3,4} (chain), {5,6} (pair), {7} (singleton).
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val vertices = (1L to 7L).toDF("doc_id")
    val got = Dedup.connectedComponents(vertices, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("large-star/small-star CC matches plain CC on a hand-built graph") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val vertices = (1L to 7L).toDF("doc_id")
    val got = Dedup.connectedComponentsStar(vertices, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("star CC convergence witness takes ids near Long.MaxValue under ANSI") {
    import spark.implicits._
    // u + v of any edge here exceeds Long.MaxValue: the witness sum
    // must widen each id before adding, or ANSI mode throws
    val top = Long.MaxValue
    val edges = Seq((top - 3, top - 2), (top - 2, top - 1), (top - 9, top - 8))
      .toDF("doc_a", "doc_b")
    val vertices = Seq(top - 9, top - 8, top - 3, top - 2, top - 1, top)
      .toDF("doc_id")
    val prev = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val got = Dedup.connectedComponentsStar(vertices, edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(top - 9 -> (top - 9), top - 8 -> (top - 9),
        top - 3 -> (top - 3), top - 2 -> (top - 3), top - 1 -> (top - 3),
        top -> top))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("star round plan: canonByV shares one exchange with smallStar's agg+join") {
    import spark.implicits._
    val edges = (0 until 199).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    val vertices = (0L until 200L).toDF("doc_id")
    var round: Option[org.apache.spark.sql.DataFrame] = None
    graft.ops.PlanDump.sink = Some((l, df) =>
      if (l == "cc_star_round" && round.isEmpty) round = Some(df))
    try Dedup.connectedComponentsStarRounds(vertices, edges): Unit
    finally graft.ops.PlanDump.sink = None
    val df = round.getOrElse(fail("PlanDump never saw cc_star_round"))
    df.write.format("noop").mode("overwrite").save()
    val shuffles = graft.plans.PlanProbe.shuffles(df)
    // largeStar: groupBy(u) + its join's left leg + the v-keyed canon;
    // smallStar's groupBy(v) and join RIDE the canonByV exchange; the
    // round-final canon distinct is the 4th (the old spelling paid 6:
    // an unkeyed (u,v) distinct plus smallStar's own two exchanges)
    assert(shuffles.size <= 4,
      s"star round should exchange at most 4 times, got ${shuffles.size}:\n" +
        df.queryExecution.executedPlan)
  }

  test("star CC converges in O(log n) rounds on a 500-vertex chain") {
    import spark.implicits._
    // Adversarial diameter: a path 0-1-2-...-499. Plain min-label
    // propagation needs ~n rounds here; the star rounds contract
    // doubly-logarithmically-fast paths, so a handful suffice.
    val n = 500
    val edges = (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    val vertices = (0L until n.toLong).toDF("doc_id")
    val (labels, rounds) = Dedup.connectedComponentsStarRounds(vertices, edges)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == n)
    got.foreach { case (id, comp) => assert(comp == 0L, s"vertex $id -> $comp") }
    assert(rounds <= 15, s"chain took $rounds star rounds — not O(log n)")
  }

  test("star CC agrees with plain CC on the fixture near-dup graph") {
    val pairs = Dedup.ngramJaccardPairs(docs)
    val plain = Dedup.connectedComponents(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Dedup.connectedComponentsStar(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == plain)
  }

  test("cluster labels are consistent with the pair list on the fixture") {
    val pairs = Dedup.ngramJaccardPairs(docs)
    val labels = Dedup.connectedComponents(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Every near-dup pair must land in the same component...
    pairs.collect().foreach { r =>
      assert(labels(r.getLong(0)) == labels(r.getLong(1)))
    }
    // ...the label is the min id of the member set...
    labels.groupBy(_._2).foreach { case (comp, members) =>
      assert(members.keys.min == comp)
    }
    // ...and docs in no pair are singletons.
    val paired = pairs.collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    labels.filterNot { case (id, _) => paired(id) }.foreach { case (id, comp) =>
      assert(comp == id)
    }
  }

  test("PII redaction scrubs emails, phones, and IPs and counts them") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail me at a.b+c@test.example.org or call +1-555-0199 from 192.168.0.1"),
      (2L, "clean text with no contacts at all"),
      (3L, "two mails x@y.io z@w.dev one phone 44-123-4567")
    ).toDF("doc_id", "text")
    val out = TextOps.redactPii(df).orderBy("doc_id").collect()
    assert(out(0).getAs[Int]("n_emails") == 1)
    assert(out(0).getAs[Int]("n_phones") == 1)
    assert(out(0).getAs[Int]("n_ips") == 1)
    assert(out(0).getAs[String]("redacted") ==
      "mail me at <EMAIL> or call <PHONE> from <IP>")
    assert(out(1).getAs[String]("redacted") == "clean text with no contacts at all")
    assert(out(1).getAs[Int]("n_emails") + out(1).getAs[Int]("n_phones") +
      out(1).getAs[Int]("n_ips") == 0)
    assert(out(2).getAs[Int]("n_emails") == 2)
    assert(out(2).getAs[Int]("n_phones") == 1)
  }
}
