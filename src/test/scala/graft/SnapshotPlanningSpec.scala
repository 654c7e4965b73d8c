package graft

import org.apache.spark.sql.functions._

import graft.catalog.GraftCatalog
import graft.sink.{ManifestFileIndex, ManifestSink, SnapshotCache}

/** The planning-path scale contract (r12 VERDICT items 2–3): manifest
  * lines carry file sizes so FileIndex construction performs ZERO
  * per-file status RPCs, and a driver-side snapshot cache keyed
  * (root, epoch, token) makes the second query against an unchanged
  * table free of manifest re-reads and stats re-collects. */
class SnapshotPlanningSpec extends SparkTestBase {
  import spark.implicits._

  private def ensureCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)

  test("FileIndex construction performs zero per-file status RPCs; sizes byte-identical") {
    val root = tmpDir("snap_sz_")
    val df = (0 until 400).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    ManifestSink.publish(
      df.repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      root, 1, ManifestSink.WriteSpec(Seq("k")))
    val before = ManifestFileIndex.legacyStatusRpcs.get()
    val idx = new ManifestFileIndex(spark, root, 1)
    assert(ManifestFileIndex.legacyStatusRpcs.get() == before,
      "a current-format manifest must resolve every size from metadata")
    // byte-identical to the real filesystem
    val conf = spark.sparkContext.hadoopConfiguration
    val fsSum = ManifestSink.manifestFiles(spark, root, 1).map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    val idxBytes = idx.select(Nil).map(_.getLen).sum
    assert(idxBytes == fsSum, s"$idxBytes vs $fsSum")
    // and the scan still answers correctly through the RPC-free index
    // (rows collected: a bare count would answer from the stats)
    assert(spark.read.format("graft-manifest").option("root", root).load()
      .collect().length == 400)
  }

  test("legacy manifests without sizes fall back to counted status RPCs and still read") {
    val root = tmpDir("snap_legacy_")
    ManifestSink.publish((0 until 50).map(i => (i.toLong, i * 2.0)).toDF("k", "v"),
      root, 1)
    // rewrite the manifest in the PRE-SIZE format (path-only lines)
    val token = ManifestSink.commitInfo(spark, root, 1)._1
    val mp = new org.apache.hadoop.fs.Path(s"$root/manifest-1.$token")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lines = scala.io.Source.fromInputStream(fs.open(mp), "UTF-8")
      .getLines().filter(_.nonEmpty).map(_.split("\t")(0)).toList
    val out = fs.create(mp, true)
    out.write((lines.mkString("\n") + "\n").getBytes("UTF-8")); out.close()
    SnapshotCache.invalidateAll()
    val before = ManifestFileIndex.legacyStatusRpcs.get()
    val idx = new ManifestFileIndex(spark, root, 1)
    assert(ManifestFileIndex.legacyStatusRpcs.get() == before + lines.size,
      "each legacy line resolves with exactly one counted getFileStatus")
    assert(idx.select(Nil).map(_.getLen).sum > 0)
    assert(spark.read.format("graft-manifest").option("root", root).load()
      .count() == 50)
  }

  test("second query against an unchanged table: no manifest re-read, no stats re-collect") {
    ensureCatalog()
    val root = tmpDir("snap_cache_") + "/t"
    (0 until 300).map(i => (i.toLong, s"u$i", i * 1.5)).toDF("k", "u", "v")
      .createOrReplaceTempView("snap_cache_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM snap_cache_src")
    // warm: first query loads the snapshot + stats once
    spark.sql(s"SELECT * FROM graft.`$root` WHERE k BETWEEN 10 AND 20").collect()
    val (sl0, tl0) = (SnapshotCache.snapshotLoads, SnapshotCache.statsLoads)
    spark.sql(s"SELECT * FROM graft.`$root` WHERE k BETWEEN 100 AND 120").collect()
    spark.sql(s"SELECT count(*) FROM graft.`$root`").collect()
    assert(SnapshotCache.snapshotLoads == sl0,
      "an unchanged table's later queries must not reload the snapshot")
    assert(SnapshotCache.statsLoads == tl0,
      "an unchanged table's later queries must not re-collect the stats parquet")
    // epoch advance invalidates by construction (new epoch = new key);
    // the INSERT's commit seeds the new epoch with what it wrote
    spark.sql(s"INSERT INTO graft.`$root` VALUES (1000, 'x', 9.0)")
    assert(spark.sql(s"SELECT k FROM graft.`$root` WHERE k > 990").collect()
      .map(_.getLong(0)).toSeq == Seq(1000L), "the new epoch's row is read")
    val e = graft.sink.ManifestSink.currentEpoch(spark, root)
    val seeded = (SnapshotCache.get(spark, root, e),
      SnapshotCache.statRows(spark, root, e).map(_.toSeq))
    SnapshotCache.invalidateAll()
    assert((SnapshotCache.get(spark, root, e),
      SnapshotCache.statRows(spark, root, e).map(_.toSeq)) == seeded,
      "the seed equals a fresh load of the new epoch")
  }

  test("DROP + CREATE at the same path: token validation evicts the stale snapshot") {
    ensureCatalog()
    val root = tmpDir("snap_drop_") + "/t"
    Seq((1L, "old")).toDF("k", "v").createOrReplaceTempView("snap_drop_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM snap_drop_src")
    assert(spark.sql(s"SELECT v FROM graft.`$root`").collect()
      .map(_.getString(0)).toSeq == Seq("old"))
    spark.sql(s"DROP TABLE graft.`$root`")
    Seq((1L, "new"), (2L, "new2")).toDF("k", "v")
      .createOrReplaceTempView("snap_drop_src2")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM snap_drop_src2")
    // same (root, epoch) key, different winning token: must reload
    assert(spark.sql(s"SELECT v FROM graft.`$root` ORDER BY k").collect()
      .map(_.getString(0)).toSeq == Seq("new", "new2"))
  }

  test("every write path carries sizes: append, CoW delete, replace-groups, evolve") {
    ensureCatalog()
    val root = tmpDir("snap_carry_") + "/t"
    (0 until 200).map(i => (i.toLong, s"u$i", i * 1.0)).toDF("k", "u", "v")
      .createOrReplaceTempView("snap_carry_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM snap_carry_src")
    spark.sql(s"INSERT INTO graft.`$root` VALUES (500, 'a', 1.0)")       // append
    spark.sql(s"DELETE FROM graft.`$root` WHERE k = 5")                  // CoW
    spark.sql(s"UPDATE graft.`$root` SET v = 0.0 WHERE k = 7")           // replace-groups
    spark.sql(s"ALTER TABLE graft.`$root` ADD COLUMNS (w DOUBLE)")       // evolve
    val e = ManifestSink.currentEpoch(spark, root)
    val entries = ManifestSink.manifestEntries(spark, root, e)
    assert(entries.nonEmpty && entries.forall(_._2 >= 0),
      s"all entries must carry sizes: ${entries.filter(_._2 < 0)}")
    val conf = spark.sparkContext.hadoopConfiguration
    entries.foreach { case (rel, sz) =>
      val p = new org.apache.hadoop.fs.Path(s"$root/$rel")
      assert(p.getFileSystem(conf).getFileStatus(p).getLen == sz,
        s"committed size of $rel must match the file")
    }
  }
}
