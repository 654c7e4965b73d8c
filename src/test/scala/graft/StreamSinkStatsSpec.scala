package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.catalog.GraftCatalog
import graft.sink.{ColumnMapping, ManifestSink, SnapshotCache}

/** The streaming sink's writer-side stats: the rows it commits equal
  * the re-read zone-map builder's, zero-row tasks publish no file, the
  * commit seeds the snapshot cache with exactly what it wrote, and a
  * micro-batch runs only the write and the stats write. */
class StreamSinkStatsSpec extends SparkTestBase {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ensureCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)

  private def sinkTo(df: DataFrame, root: String, ckpt: String,
                     statsCols: String): StreamingQuery =
    df.writeStream.option("checkpointLocation", ckpt).option("appId", ckpt)
      .option("statsCols", statsCols).toTable(s"graft.`$root`")

  private def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** The committed stats rows of `epoch` against the re-read builder's
    * over the same files; returns the committed rows. */
  private def assertMatchesReread(root: String, epoch: Int,
                                  physCols: Seq[String]): Set[Seq[Any]] = {
    val files = ManifestSink.manifestEntries(spark, root, epoch).map(_._1)
    val committed = rowSet(ManifestSink.statsTable(spark, root, epoch))
    val rereadDf = ZoneOracle.rows(spark, root, files, physCols)
    val reread = rowSet(rereadDf)
    assert(committed == reread)
    assert(graft.plans.PlanProbe.shuffles(rereadDf).size == 1,
      "the re-read builder is one aggregate over one scan")
    assert(committed.count(_(1) == "__count") == files.size,
      "one __count row per file")
    committed
  }

  test("sink stats rows equal the re-read zone maps for every stat type, under a non-UTC session") {
    ensureCatalog()
    val base = tmpDir("sss_types_")
    val root = s"$base/t"
    spark.sql(s"CREATE TABLE graft.`$root` (l BIGINT, i INT, s SMALLINT, " +
      "b TINYINT, str STRING, ts TIMESTAMP, ntz TIMESTAMP_NTZ, d DATE, n BIGINT)")
    val cols = Seq("l", "i", "s", "b", "str", "ts", "ntz", "d", "n")
    val tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      val mem = MemoryStream[Int]
      val v = col("value")
      // strings: the empty string, a supplementary-plane character
      // (UTF-16 order differs from UTF-8 binary order) and a BMP
      // character above it in UTF-16 order
      val words = array(lit(""), lit("a"), lit("\uD83D\uDE00"), lit("\uFFFD"), lit("zz"))
      val df = mem.toDF().repartition(3).select(
        (v.cast("bigint") * 1000000007L - 5L).as("l"),
        (v * -7).cast("int").as("i"),
        (v * 3 - 20).cast("smallint").as("s"),
        (v - 9).cast("tinyint").as("b"),
        element_at(words, (v % 5 + 1).cast("int")).as("str"),
        timestamp_micros(v.cast("bigint") * 3600000001L).as("ts"),
        timestamp_micros(v.cast("bigint") * 86400000003L).cast("timestamp_ntz").as("ntz"),
        date_add(lit(java.sql.Date.valueOf("2024-02-27")), v).as("d"),
        lit(null).cast("bigint").as("n"))
      mem.addData(0 until 11: _*)
      val q = sinkTo(df, root, s"$base/ckpt", cols.mkString(","))
      try {
        q.processAllAvailable()
        mem.addData(11 until 17: _*)
        q.processAllAvailable()
      } finally q.stop()
      assert(ManifestSink.currentEpoch(spark, root) == 2)
      Seq(1, 2).foreach(e => assertMatchesReread(root, e, cols))
      val committed = rowSet(ManifestSink.statsTable(spark, root, 2))
      assert(committed.filter(_(1) == "n").forall(r => (2 to 5).forall(r(_) == null)),
        "an all-null column commits null bounds")
      assert(committed.filter(_(1) == "str").exists(_(5) == "\uD83D\uDE00"),
        "the supplementary-plane string is the UTF-8 binary maximum")
      assert(spark.table(s"graft.`$root`").count() == 17)
    } finally spark.conf.set("spark.sql.session.timeZone", tz)
  }

  test("an unsupported statsCols type is refused when the write is built, before any file") {
    ensureCatalog()
    val base = tmpDir("sss_refuse_")
    val root = s"$base/t"
    spark.sql(s"CREATE TABLE graft.`$root` (x DOUBLE)")
    val mem = MemoryStream[Double]
    mem.addData(1.5, 2.5)
    val e = intercept[Exception] {
      val q = sinkTo(mem.toDF().toDF("x"), root, s"$base/ckpt", "x")
      try q.processAllAvailable() finally q.stop()
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("zone maps support")), e.toString)
    assert(ManifestSink.currentEpochOpt(spark, root).isEmpty, "nothing committed")
    assert(!new java.io.File(root).list().exists(_.startsWith("data-")), "nothing staged")
  }

  test("sink stats on a column-mapped table key on physical names after RENAME COLUMN") {
    ensureCatalog()
    val base = tmpDir("sss_map_")
    val root = s"$base/t"
    spark.sql(s"CREATE TABLE graft.`$root` (k BIGINT, name STRING)")
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "b"), (2L, "a"))
    val q1 = sinkTo(mem.toDF().toDF("k", "name"), root, s"$base/ck1", "k,name")
    try q1.processAllAvailable() finally q1.stop()
    spark.sql(s"ALTER TABLE graft.`$root` RENAME COLUMN name TO label")
    val mem2 = MemoryStream[(Long, String)]
    mem2.addData((3L, "d"), (4L, "c"))
    val q2 = sinkTo(mem2.toDF().toDF("k", "label"), root, s"$base/ck2", "k,label")
    try q2.processAllAvailable() finally q2.stop()
    val e = ManifestSink.currentEpoch(spark, root)
    val phys = ColumnMapping.physOf(ManifestSink.commitSchema(spark, root, e).get)
    assert(phys("label") == "name")
    val committed = assertMatchesReread(root, e, Seq("k", "name"))
    assert(committed.map(_(1)) == Set("k", "name", "__count"))
    assert(spark.sql(s"SELECT label FROM graft.`$root` WHERE k = 4").collect()
      .map(_.getString(0)).toSeq == Seq("c"))
  }

  test("zero-row tasks publish no file: a no-data watermark batch adds no file") {
    ensureCatalog()
    val base = tmpDir("sss_wm_")
    val root = s"$base/t"
    spark.sql(s"CREATE TABLE graft.`$root` (ws TIMESTAMP, n BIGINT)")
    val mem = MemoryStream[Int]
    val df = mem.toDF().select(timestamp_seconds(col("value")).as("t"))
      .withWatermark("t", "10 seconds")
      .groupBy(window(col("t"), "10 seconds")).count()
      .select(col("window.start").as("ws"), col("count").as("n"))
    val q = df.writeStream.outputMode("append")
      .option("checkpointLocation", s"$base/ckpt").option("statsCols", "ws")
      .toTable(s"graft.`$root`")
    try {
      mem.addData(1, 2, 3) // nothing final yet; the watermark stays at 0
      q.processAllAvailable()
      mem.addData(15) // watermark -> 5 s: a no-data batch runs, closes nothing
      q.processAllAvailable()
      mem.addData(40) // watermark -> 30 s: the no-data batch closes [0,10) and [10,20)
      q.processAllAvailable()
    } finally q.stop()
    val last = ManifestSink.currentEpoch(spark, root)
    val added = (1 to last).map { e =>
      val prior = if (e == 1) Set.empty[String] else ManifestSink.manifestFiles(spark, root, e - 1).toSet
      SnapshotCache.get(spark, root, e).txn.get.version ->
        ManifestSink.manifestFiles(spark, root, e).filterNot(prior)
    }.toMap
    assert(added.keySet == (0L to 4L).toSet, "one epoch per batch")
    val noData = q.recentProgress.filter(_.numInputRows == 0).map(_.batchId).toSet
    assert(Set(2L, 4L).subsetOf(noData), s"batches 2 and 4 ran without data: $noData")
    // every batch before the closing no-data batch emitted no row
    (0L to 3L).foreach(b => assert(added(b).isEmpty, s"batch $b emitted no row but added ${added(b)}"))
    assert(added(4L).nonEmpty && added(4L).size <= 2,
      s"only tasks that emitted rows add files: ${added(4L)}")
    val counts = rowSet(ManifestSink.statsTable(spark, root, last)).filter(_(1) == "__count")
    assert(counts.size == ManifestSink.manifestFiles(spark, root, last).size)
    assert(counts.forall(_(2).asInstanceOf[Long] > 0), s"no zero-row file: $counts")
    val got = spark.table(s"graft.`$root`").collect()
      .map(r => r.getTimestamp(0).getTime / 1000 -> r.getLong(1)).toSet
    assert(got == Set(0L -> 3L, 10L -> 1L), "the table equals the stream's output")
  }

  test("a sink commit seeds the next read's stats; a micro-batch runs the write and the stats write only") {
    ensureCatalog()
    val base = tmpDir("sss_seed_")
    val root = s"$base/t"
    spark.sql(s"CREATE TABLE graft.`$root` (k BIGINT, v STRING)")
    val mem = MemoryStream[(Long, String)]
    val q = sinkTo(mem.toDF().toDF("k", "v"), root, s"$base/ckpt", "k,v")
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      Seq(3L, 5L).foreach { k =>
        val jobs = SparkJobs.count(spark, Some(q.id.toString)) {
          mem.addData((k, "c"), (k + 1, "d"))
          q.processAllAvailable()
        }
        assert(jobs >= 1 && jobs <= 2, s"a statsCols micro-batch ran $jobs jobs")
      }
    } finally q.stop()
    val loads = SnapshotCache.statsLoads
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$root`").collect()(0).getLong(0) == 6L)
    assert(graft.catalog.GraftTable.lastMetaAggOnly, "COUNT(*) answers from metadata")
    assert(SnapshotCache.statsLoads == loads, "the commit seeded the new epoch's stats")
  }

  test("a sink into a stats-less table commits no stats; pruned reads and DELETE still reach the older files") {
    ensureCatalog()
    val base = tmpDir("sss_nostats_")
    val root = s"$base/t"
    ManifestSink.publish(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, 1)
    val mem = MemoryStream[(Long, String)]
    mem.addData((3L, "c"), (4L, "d"))
    val q = sinkTo(mem.toDF().toDF("k", "v"), root, s"$base/ckpt", "k,v")
    try q.processAllAvailable() finally q.stop()
    assert(ManifestSink.currentEpoch(spark, root) == 2)
    assert(SnapshotCache.statRows(spark, root, 2).isEmpty,
      "stats for the fresh files alone would leave the older file uncovered")
    intercept[java.io.FileNotFoundException] {
      ManifestSink.readPruned(spark, root, col("k").between(1L, 3L))
    }
    def keys(): Seq[Long] = spark.sql(s"SELECT k FROM graft.`$root`").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(spark.sql(s"SELECT k FROM graft.`$root` WHERE k <= 3").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    spark.sql(s"DELETE FROM graft.`$root` WHERE k IN (1, 4)")
    assert(keys() == Seq(2L, 3L), "DELETE reaches the older file's row")
  }

  test("a sink commit seeds the next read's snapshot: COUNT(*) of the new epoch loads no manifest") {
    ensureCatalog()
    val base = tmpDir("sss_snap_")
    val root = s"$base/t"
    spark.sql(s"CREATE TABLE graft.`$root` (k BIGINT, v STRING)")
    val mem = MemoryStream[(Long, String)]
    val q = sinkTo(mem.toDF().toDF("k", "v"), root, s"$base/ckpt", "k,v")
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val loads = SnapshotCache.snapshotLoads
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$root`").collect()(0).getLong(0) == 3L)
    assert(SnapshotCache.snapshotLoads == loads, "the commit seeded the new epoch's snapshot")
    // the seed is exactly what a load of the committed epoch reads
    val epoch = ManifestSink.currentEpoch(spark, root)
    val seeded = SnapshotCache.get(spark, root, epoch)
    SnapshotCache.invalidateAll()
    assert(SnapshotCache.get(spark, root, epoch) == seeded)
    assert(SnapshotCache.snapshotLoads == loads + 1)
  }

  test("a replayed batch and a CAS-losing sink commit seed nothing") {
    val root = tmpDir("sss_cas_")
    ManifestSink.publish(Seq((1L, "a")).toDF("k", "v"), root, 1, ManifestSink.WriteSpec(Seq("k")))
    def stageBatch(ks: Seq[Long]): (String, Seq[Row]) = {
      val dir = s"data-stream-a${ManifestSink.newAttemptToken()}"
      ks.map(k => (k, s"v$k")).toDF("k", "v").coalesce(1).write.parquet(s"$root/$dir")
      val p = new org.apache.hadoop.fs.Path(s"$root/$dir")
      val name = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
        .map(_.getPath.getName).filter(_.endsWith(".parquet")).head
      (dir, Seq(Row(name, "k", ks.min, ks.max, null, null),
        Row(name, "__count", ks.size.toLong, null, null, null)))
    }
    def counts(e: Int): Map[String, Long] = SnapshotCache.statRows(spark, root, e).get
      .filter(_.getString(1) == "__count").map(r => r.getString(0) -> r.getLong(2)).toMap
    val (d1, r1) = stageBatch(Seq(5L, 6L))
    assert(ManifestSink.commitIdempotentAppendFiles(spark, root, d1, "app", 0L, Some(r1)))
    val loads = SnapshotCache.statsLoads
    assert(counts(2).values.toSeq.sorted == Seq(1L, 2L))
    assert(SnapshotCache.statsLoads == loads, "a winning commit seeds its epoch")
    val (d2, r2) = stageBatch(Seq(7L))
    assert(!ManifestSink.commitIdempotentAppendFiles(spark, root, d2, "app", 0L, Some(r2)),
      "a replayed version no-ops")
    assert(ManifestSink.currentEpoch(spark, root) == 2)
    val (d3, r3) = stageBatch(Seq(8L))
    ManifestSink.commitCasRaceHook = Some(() =>
      ManifestSink.publish(Seq((9L, "x")).toDF("k", "v"), root, 3,
        ManifestSink.WriteSpec(Seq("k")), append = true))
    intercept[ManifestSink.ManifestConflictException] {
      ManifestSink.commitIdempotentAppendFiles(spark, root, d3, "app", 1L, Some(r3))
    }
    // neither the replay nor the loser left rows for epoch 3: the
    // race-hook winner's own commit seeded them
    val won = counts(3)
    assert(SnapshotCache.statsLoads == loads, "the winner seeded epoch 3")
    assert(won.values.toSeq.sorted == Seq(1L, 1L, 2L))
    assert(won.keySet == ManifestSink.manifestEntries(spark, root, 3).map(_._1).toSet)
    val cached = SnapshotCache.statRows(spark, root, 3).get.toSeq
    SnapshotCache.invalidateAll()
    assert(SnapshotCache.statRows(spark, root, 3).get.toSeq == cached,
      "the cached rows equal a fresh load")
    val loserFile = r3.head.getString(0)
    assert(!cached.exists(_.getString(0).endsWith(s"/$loserFile")),
      "no row names the loser's file")
    assert(ManifestSink.read(spark, root).as[(Long, String)].collect().map(_._1).sorted.toSeq ==
      Seq(1L, 5L, 6L, 9L))
  }
}
