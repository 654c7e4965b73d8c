package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.catalog.{GraftCatalog, GraftTable}
import graft.sink.{ColumnMapping, ManifestSink, SnapshotCache}

/** Writer-side zone maps for every catalog commit: the stats rows each
  * commit kind writes equal the re-read oracle ([[ZoneOracle]]), every
  * winning commit seeds the snapshot cache with exactly what it wrote
  * (the next reads load nothing, and the seed equals a fresh load), a
  * lost CAS seeds nothing, and the commits run a bounded number of
  * jobs. */
class WriterStatsSpec extends SparkTestBase {
  import spark.implicits._

  private def ensureCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)

  private def rowSet(rows: Seq[Row]): Set[Seq[Any]] = rows.map(_.toSeq).toSet

  /** The committed stats of `epoch` (or of a stage's stats parquet
    * under `token`) against the oracle over `files`. */
  private def assertMatchesOracle(root: String, epoch: Int, files: Seq[String],
                                  token: Option[String] = None): Unit = {
    val tok = token.getOrElse(ManifestSink.commitInfo(spark, root, epoch)._1)
    val committed = spark.read.schema(ManifestSink.StatsSchema)
      .parquet(s"$root/stats-$epoch.$tok").collect().toSeq
    val cols = committed.map(_.getString(1)).filterNot(_.startsWith("__")).distinct
    assert(cols.nonEmpty, s"epoch $epoch carries zone maps")
    val oracle = ZoneOracle.rows(spark, root, files, cols).collect().toSeq
    assert(rowSet(committed) == rowSet(oracle), s"epoch $epoch")
    assert(committed.size == oracle.size, s"epoch $epoch: no duplicate rows")
  }

  private def assertCommitMatches(root: String): Unit = {
    val e = ManifestSink.currentEpoch(spark, root)
    assertMatchesOracle(root, e, ManifestSink.manifestEntries(spark, root, e).map(_._1))
  }

  /** After a commit: a COUNT(*) and a pruned SELECT load neither the
    * snapshot nor the stats, and the seeded state equals a fresh load. */
  private def assertSeeded(root: String, pred: String): Unit = {
    val e = ManifestSink.currentEpoch(spark, root)
    val (sl, tl) = (SnapshotCache.snapshotLoads, SnapshotCache.statsLoads)
    spark.sql(s"SELECT COUNT(*) FROM graft.`$root`").collect()
    spark.sql(s"SELECT * FROM graft.`$root` WHERE $pred").collect()
    assert(SnapshotCache.snapshotLoads == sl, s"epoch $e: no snapshot load")
    assert(SnapshotCache.statsLoads == tl, s"epoch $e: no stats load")
    val seeded = (SnapshotCache.get(spark, root, e),
      SnapshotCache.statRows(spark, root, e).map(_.toSeq))
    SnapshotCache.invalidateAll()
    val fresh = (SnapshotCache.get(spark, root, e),
      SnapshotCache.statRows(spark, root, e).map(_.toSeq))
    assert(fresh == seeded, s"epoch $e: the seed equals a fresh load")
  }

  private def withLosAngeles(body: => Unit): Unit = {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try body finally spark.conf.set("spark.sql.session.timeZone", tz)
  }

  /** Rows covering every zone-map type; `l` is unique, strings include
    * the empty string and a supplementary-plane character, `n` is
    * always null. */
  private def typedRows(view: String, from: Int, until: Int): Unit = {
    val v = col("id")
    val words = array(lit(""), lit("a"), lit("\uD83D\uDE00"), lit("\uFFFD"), lit("zz"))
    spark.range(from, until).repartition(3).select(
      v.as("l"),
      (v * -7).cast("int").as("i"),
      (v * 3 - 20).cast("smallint").as("s"),
      (v % 100 - 9).cast("tinyint").as("b"),
      element_at(words, (v % 5 + 1).cast("int")).as("str"),
      timestamp_micros(v * 3600000001L).as("ts"),
      timestamp_micros(v * 86400000003L).cast("timestamp_ntz").as("ntz"),
      date_add(lit(java.sql.Date.valueOf("2024-02-27")), v.cast("int")).as("d"),
      lit(null).cast("bigint").as("n"))
      .createOrReplaceTempView(view)
  }

  test("every catalog commit kind writes the oracle's zone maps and seeds the snapshot cache") {
    ensureCatalog()
    withLosAngeles {
      val root = tmpDir("wss_kinds_") + "/t"
      val t = s"graft.`$root`"
      typedRows("wss_a", 0, 40)
      spark.sql(s"CREATE TABLE $t AS SELECT * FROM wss_a")
      assertCommitMatches(root); assertSeeded(root, "l > 30")
      typedRows("wss_b", 40, 70)
      spark.sql(s"INSERT INTO $t SELECT * FROM wss_b")
      assertCommitMatches(root); assertSeeded(root, "ts > TIMESTAMP '2024-01-01 00:00:00'")
      // a zero-row write adds no file (its writer's one schema-only
      // file is dropped at stage), and the committed schema still reads
      val before = ManifestSink.manifestEntries(spark, root,
        ManifestSink.currentEpoch(spark, root)).map(_._1).toSet
      val schema = spark.table(t).schema
      spark.sql(s"INSERT INTO $t SELECT * FROM wss_b WHERE l < 0")
      val e0 = ManifestSink.currentEpoch(spark, root)
      assert(ManifestSink.manifestEntries(spark, root, e0).map(_._1).toSet == before,
        "a zero-row INSERT adds no manifest file")
      assert(spark.sql(s"SELECT * FROM $t").schema == schema)
      assertCommitMatches(root); assertSeeded(root, "d > DATE '2024-03-10'")
      typedRows("wss_c", 100, 160)
      spark.sql(s"INSERT OVERWRITE $t SELECT * FROM wss_c")
      assertCommitMatches(root); assertSeeded(root, "l = 120")
      spark.sql(s"OPTIMIZE $t FILES 3").collect()
      assertCommitMatches(root); assertSeeded(root, "l BETWEEN 110 AND 115")
      typedRows("wss_m", 150, 170)
      spark.sql(
        s"""MERGE INTO $t x USING wss_m u ON x.l = u.l
           |WHEN MATCHED THEN UPDATE SET x.str = u.str, x.i = u.i
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assertCommitMatches(root); assertSeeded(root, "str = 'zz'")
      spark.sql(s"UPDATE $t SET s = s + 1, ntz = ntz + INTERVAL 1 DAY WHERE l < 120")
      assertCommitMatches(root); assertSeeded(root, "s > 300")
      spark.sql(s"DELETE FROM $t WHERE ts < TIMESTAMP '1970-01-06 00:00:00' AND b > 0")
      assertCommitMatches(root); assertSeeded(root, "i < -1000")
      // a column-mapped table keys its stats on physical names
      spark.sql(s"ALTER TABLE $t RENAME COLUMN str TO label")
      assertSeeded(root, "label = 'a'")
      typedRows("wss_r", 200, 230)
      spark.sql(s"INSERT INTO $t SELECT l, i, s, b, str AS label, ts, ntz, d, n FROM wss_r")
      val e = ManifestSink.currentEpoch(spark, root)
      val phys = ColumnMapping.physOf(ManifestSink.commitSchema(spark, root, e).get)
      assert(phys("label") == "str")
      assert(ManifestSink.statCols(spark, root, e).contains("str"))
      assertCommitMatches(root); assertSeeded(root, "label = 'a'")
      assert(spark.sql(s"SELECT COUNT(*) FROM $t").collect()(0).getLong(0) ==
        spark.sql(s"SELECT * FROM $t").collect().length)
    }
  }

  test("a WAP stage's stats and its publish match the oracle; merge-on-read commits too") {
    ensureCatalog()
    withLosAngeles {
      val root = tmpDir("wss_wap_") + "/t"
      val t = s"graft.`$root`"
      typedRows("wss_w0", 0, 30)
      spark.sql(s"CREATE TABLE $t AS SELECT * FROM wss_w0")
      typedRows("wss_w1", 30, 60)
      spark.conf.set("spark.graft.wap.id", "w1")
      try spark.sql(s"INSERT INTO $t SELECT * FROM wss_w1")
      finally spark.conf.unset("spark.graft.wap.id")
      val (st, _) = GraftTable.wapStaged(spark, root, "w1").get
      assertMatchesOracle(root, st.epoch, st.relFiles, Some(st.token))
      spark.sql(s"PUBLISH WAP w1 ON $t").collect()
      assertCommitMatches(root); assertSeeded(root, "l > 50")

      val mor = tmpDir("wss_mor_") + "/t"
      val m = s"graft.`$mor`"
      spark.sql(s"CREATE TABLE $m TBLPROPERTIES ('graft.mergeKey' = 'l') " +
        "AS SELECT * FROM wss_w0")
      spark.sql(s"UPDATE $m SET str = 'q', d = d + 400 WHERE l < 12")
      assert(ManifestSink.commitDvs(spark, mor, ManifestSink.currentEpoch(spark, mor)).nonEmpty,
        "the UPDATE committed merge-on-read")
      assertCommitMatches(mor); assertSeeded(mor, "d > DATE '2025-01-01'")
      spark.sql(s"DELETE FROM $m WHERE i < -150")
      assertCommitMatches(mor); assertSeeded(mor, "l < 5")
      spark.conf.set("spark.graft.delete.mode", "mor")
      try spark.sql(s"DELETE FROM $m WHERE l IN (20, 21)")
      finally spark.conf.unset("spark.graft.delete.mode")
      assertCommitMatches(mor); assertSeeded(mor, "l > 25")
      assert(spark.sql(s"SELECT l FROM $m").collect().map(_.getLong(0)).sorted.toSeq ==
        (0L until 30L).filterNot(l => l * -7 < -150 || l == 20 || l == 21))
    }
  }

  test("a lost CAS seeds nothing; the rebased INSERT seeds its own epoch") {
    ensureCatalog()
    val root = tmpDir("wss_race_") + "/t"
    val t = s"graft.`$root`"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").createOrReplaceTempView("wss_race0")
    spark.sql(s"CREATE TABLE $t AS SELECT * FROM wss_race0")
    // the hook lands a racing append after the INSERT staged, before
    // its CAS: the INSERT loses epoch 2 and rebases onto epoch 3
    GraftTable.insertCommitRaceHook = Some(() =>
      ManifestSink.publish(Seq((9L, "x")).toDF("k", "v"), root, 2,
        ManifestSink.WriteSpec(Seq("k", "v")), append = true))
    try spark.sql(s"INSERT INTO $t VALUES (5, 'e')")
    finally GraftTable.insertCommitRaceHook = None
    assert(ManifestSink.currentEpoch(spark, root) == 3)
    val cached2 = SnapshotCache.statRows(spark, root, 2).get.toSeq
    val snap2 = SnapshotCache.get(spark, root, 2)
    assertSeeded(root, "k = 5")
    assert(SnapshotCache.statRows(spark, root, 2).get.toSeq == cached2 &&
      SnapshotCache.get(spark, root, 2) == snap2,
      "epoch 2 holds the winner's state, not the loser's")
    assert(spark.sql(s"SELECT k FROM $t").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 5L, 9L))
    // a commit that loses its CAS outright leaves the winner's seed
    val staged = ManifestSink.stageAppend(Seq((7L, "g")).toDF("k", "v"), root, 4,
      ManifestSink.WriteSpec(Seq("k", "v")), unique = true)
    ManifestSink.commitCasRaceHook = Some(() =>
      ManifestSink.publish(Seq((8L, "h")).toDF("k", "v"), root, 4,
        ManifestSink.WriteSpec(Seq("k", "v")), append = true))
    intercept[ManifestSink.ManifestConflictException] {
      ManifestSink.commitStaged(spark, staged)
    }
    val won = SnapshotCache.statRows(spark, root, 4).get.toSeq
    assert(!won.exists(r => staged.relFiles.filter(_.contains(staged.token))
      .contains(r.getString(0))), "no row names the loser's file")
    assertSeeded(root, "k = 8")
  }

  test("a SQL INSERT runs at most two jobs; DELETE and OPTIMIZE stay bounded") {
    ensureCatalog()
    val root = tmpDir("wss_jobs_") + "/t"
    val t = s"graft.`$root`"
    (0L until 200L).map(i => (i, s"d${i % 7}", i * 10)).toDF("k", "dev", "ts")
      .repartition(4).createOrReplaceTempView("wss_jobs0")
    spark.sql(s"CREATE TABLE $t AS SELECT * FROM wss_jobs0")
    (200L until 240L).map(i => (i, s"d${i % 7}", i * 10)).toDF("k", "dev", "ts")
      .coalesce(1).createOrReplaceTempView("wss_jobs1")
    spark.sql(s"SELECT COUNT(*) FROM $t").collect() // warm the cache
    val insert = SparkJobs.count(spark)(spark.sql(s"INSERT INTO $t SELECT * FROM wss_jobs1"))
    assert(insert <= 2, s"INSERT ran $insert jobs: the data write and the stats write")
    val delete = SparkJobs.count(spark)(spark.sql(s"DELETE FROM $t WHERE ts < 300"))
    assert(delete <= 4, s"retention DELETE ran $delete jobs")
    val optimize = SparkJobs.count(spark)(
      spark.sql(s"OPTIMIZE $t CLUSTER BY (dev, ts) FILES 2").collect())
    assert(optimize <= 4, s"OPTIMIZE ran $optimize jobs")
    info(s"jobs: INSERT $insert, DELETE $delete, OPTIMIZE $optimize")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").collect()(0).getLong(0) == 210L)
  }
}
