package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sink.ManifestSink
import graft.sink.ManifestSink.{LayoutDecl, WriteSpec}

/** The one layout placement ([[graft.catalog.LayoutWrite]]) over the six
  * supported compositions, every case under the America/Los_Angeles
  * session zone: a laid-out publish evaluates its input once, commits
  * single-valued files whose stats rows equal the re-read oracle's
  * ([[ZoneOracle.flavors]]), rolls a hot key past a tiny
  * `spark.graft.write.targetFileSize` into several files from one or
  * from four input partitions, commits every row of a nondeterministic
  * identity input, and refuses a write past `spark.graft.layout.maxKeys`
  * before it commits. */
class LayoutPlacementSpec extends SparkTestBase {

  private def withLosAngeles(body: => Unit): Unit = {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try body finally spark.conf.set("spark.sql.session.timeZone", tz)
  }

  private def withConf(k: String, v: String)(body: => Unit): Unit = {
    spark.conf.set(k, v)
    try body finally spark.conf.unset(k)
  }

  /** The six compositions: each single transform, and each pair. */
  private val compositions: Seq[(String, LayoutDecl)] = Seq(
    "bucket" -> LayoutDecl(bucket = Some(("id", 4))),
    "time" -> LayoutDecl(ptime = Some(("ts", "days"))),
    "identity" -> LayoutDecl(ident = Some(("s", None))),
    "time x bucket" -> LayoutDecl(bucket = Some(("id", 2)), ptime = Some(("ts", "days"))),
    "truncate x bucket" -> LayoutDecl(bucket = Some(("id", 2)), ident = Some(("s", Some(1)))),
    "time x identity" -> LayoutDecl(ptime = Some(("ntz", "years")), ident = Some(("i", None))))

  /** `n` rows over `parts` input partitions; `hot` puts every row on
    * one value of every layout column. Each evaluation of a row adds
    * one to `reads`. */
  private def frame(n: Int, parts: Int, hot: Boolean,
                    reads: org.apache.spark.util.LongAccumulator): DataFrame = {
    val counted = udf { (id: Long) => reads.add(1); id }.asNondeterministic()
    val id = col("id")
    spark.range(0, n, 1, parts).select(
      (if (hot) id * 4 else id).as("id0"), id.as("seq"))
      .select(counted(col("id0")).as("id"),
        (if (hot) lit("hh") else concat(lit("s"), (col("seq") % 5).cast("string"))).as("s"),
        (if (hot) lit(1) else (col("seq") % 3).cast("int")).as("i"),
        timestamp_micros((if (hot) lit(0L) else col("seq") * 7L) * 86400000000L +
          col("seq") * 1000000L).as("ts"),
        timestamp_micros((if (hot) lit(0L) else col("seq") * 40L) * 86400000000L)
          .cast("timestamp_ntz").as("ntz"),
        concat(lit("payload-"), col("seq").cast("string")).as("txt"))
  }

  private def files(root: String, epoch: Int): Seq[String] =
    ManifestSink.manifestEntries(spark, root, epoch).map(_._1)

  /** The rows `epoch` committed for its files equal the oracle's (which
    * refuses any multi-valued file). */
  private def assertOracle(root: String, epoch: Int, spec: WriteSpec): Unit = {
    val fs = files(root, epoch)
    val tok = ManifestSink.commitInfo(spark, root, epoch)._1
    val got = spark.read.schema(ManifestSink.StatsSchema).parquet(s"$root/stats-$epoch.$tok")
      .collect().toSeq
    val want = ZoneOracle.flavors(spark, root, fs, spec)
    def set(rows: Seq[Row]) = rows.map(_.toSeq).toSet
    assert(set(got) == set(want) && got.size == want.size, s"$root@$epoch under $spec")
  }

  /** Files per layout value (the layout stats rows' values). */
  private def filesPerKey(root: String, epoch: Int, spec: WriteSpec): Map[Seq[Any], Int] = {
    val tok = ManifestSink.commitInfo(spark, root, epoch)._1
    val keys = spec.layout.specStrings
    spark.read.schema(ManifestSink.StatsSchema).parquet(s"$root/stats-$epoch.$tok")
      .collect().toSeq.filter(r => keys(r.getString(1)))
      .groupBy(_.getString(0)).values
      .map(_.sortBy(_.getString(1)).map(r => Seq(r.get(2), r.get(4))))
      .groupBy(identity).map { case (k, v) => k.flatten -> v.size }
  }

  test("every composition places in one pass: input read once, single-valued files equal the oracle") {
    withLosAngeles {
      val reads = spark.sparkContext.longAccumulator("lps_reads")
      for ((name, layout) <- compositions) {
        val root = tmpDir("lps_once_")
        val spec = WriteSpec(Seq("id", "ts"), layout = layout)
        reads.reset()
        ManifestSink.publish(frame(120, 4, hot = false, reads), root, 1, spec)
        assert(reads.value == 120L, s"$name: the write evaluated ${reads.value} input rows")
        assertOracle(root, 1, spec)
        assert(spark.read.parquet(files(root, 1).map(f => s"$root/$f"): _*).count() == 120L, name)
        assert(files(root, 1).forall(_.contains("/__p0=")), s"$name: laid-out files nest per value")
      }
    }
  }

  test("a hot key past a tiny target commits several files from one or four input partitions") {
    withLosAngeles {
      val reads = spark.sparkContext.longAccumulator("lps_hot")
      withConf("spark.graft.write.targetFileSize", "512") {
        for ((name, layout) <- compositions; parts <- Seq(1, 4)) {
          val root = tmpDir("lps_hot_")
          val spec = WriteSpec(Seq("id"), layout = layout)
          ManifestSink.publish(frame(200, parts, hot = true, reads), root, 1, spec)
          assertOracle(root, 1, spec)
          val perKey = filesPerKey(root, 1, spec)
          assert(perKey.size == 1, s"$name/$parts: one hot key, got $perKey")
          assert(perKey.values.head >= 2, s"$name/$parts: the hot key must roll, got $perKey")
        }
      }
    }
  }

  test("a nondeterministic identity input commits every row") {
    withLosAngeles {
      val root = tmpDir("lps_rand_")
      val draw = udf(() => java.util.concurrent.ThreadLocalRandom.current().nextInt(1000000))
        .asNondeterministic()
      val df = spark.range(0, 50, 1, 4).select(col("id"), concat(lit("v"), draw().cast("string")).as("k"))
      val spec = WriteSpec(Seq("id"), layout = LayoutDecl(ident = Some(("k", None))))
      ManifestSink.publish(df, root, 1, spec)
      assertOracle(root, 1, spec)
      assert(spark.read.parquet(files(root, 1).map(f => s"$root/$f"): _*).count() == 50L)
      assert(ManifestSink.identSpec(spark, root, 1).isDefined, "every file is single-valued")
    }
  }

  test("a layout.maxKeys refusal leaves the table's epoch and file list unchanged") {
    withLosAngeles {
      val root = tmpDir("lps_cap_")
      val reads = spark.sparkContext.longAccumulator("lps_cap")
      val spec = WriteSpec(Seq("id"), layout = LayoutDecl(bucket = Some(("id", 4))))
      ManifestSink.publish(frame(40, 2, hot = false, reads), root, 1, spec)
      val before = files(root, 1)
      withConf("spark.graft.layout.maxKeys", "3") {
        val e = intercept[IllegalArgumentException](
          ManifestSink.publish(frame(40, 2, hot = false, reads), root, 2, spec))
        assert(e.getMessage.contains("layout.maxKeys"), e.getMessage)
      }
      assert(ManifestSink.currentEpoch(spark, root) == 1)
      assert(files(root, 1) == before)
      assert(!new java.io.File(s"$root/data-epoch=2").exists(), "the refused stage is removed")
    }
  }
}
