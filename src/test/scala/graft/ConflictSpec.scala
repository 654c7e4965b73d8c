package graft

import org.apache.spark.sql.functions._

import graft.catalog.{GraftCatalog, GraftTable}
import graft.sink.ManifestSink

/** VERDICT r13 #1: logical conflict resolution for concurrent commits
  * (the Delta-ConflictChecker / Iceberg-validation discipline). A
  * row-level DML or append commit that finds the table advanced
  * REBASES onto the new current epoch when the intervening epochs are
  * pure appends/metadata disjoint from what it read — and fails
  * exactly as before when they are not (overlapping rewrite, schema
  * change, concurrent takedown, serializable isolation). */
class ConflictSpec extends SparkTestBase {
  import spark.implicits._

  private def ensureCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)

  private def freshTable(prefix: String, n: Long = 100L): String = {
    val root = tmpDir(prefix) + "/t"
    (0L until n).map(i => (i, i * 2L)).toDF("k", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .createOrReplaceTempView(s"conf_src_$prefix")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM conf_src_$prefix")
    root
  }

  test("UPDATE commits THROUGH a racing disjoint append: both visible, no rerun") {
    ensureCatalog()
    val root = freshTable("conf_upd_")
    val before = ManifestSink.manifestEntries(spark, root, 1)
    // the racing append lands BETWEEN the update's staged write and its
    // epoch CAS — exactly the window optimistic rebase covers. Its
    // file's zone maps (k = [900, 900]) provably miss the UPDATE's
    // pushed read predicate (k IN (5, 7)), so the append-guard clears
    // it and the rebase commits without re-running the scan/rewrite.
    GraftTable.replaceCommitRaceHook = Some(() =>
      spark.sql(s"INSERT INTO graft.`$root` VALUES (900, 900)"))
    try spark.sql(s"UPDATE graft.`$root` SET v = -1 WHERE k IN (5, 7)")
    finally GraftTable.replaceCommitRaceHook = None
    assert(ManifestSink.currentEpoch(spark, root) == 3,
      "CTAS, racing append, rebased update = 3 epochs")
    // both effects visible in the final state
    val rows = spark.sql(s"SELECT k, v FROM graft.`$root` " +
      "WHERE v = -1 OR k = 900 ORDER BY k").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((5L, -1L), (7L, -1L), (900L, 900L)))
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root`")
      .head().getLong(0) == 101L)
    // the racing epoch is pinned pre-update: insert visible, update not
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root` VERSION AS OF 2 " +
      "WHERE v = -1").head().getLong(0) == 0L)
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root` VERSION AS OF 2 " +
      "WHERE k = 900").head().getLong(0) == 1L)
    // CoW economics survive the rebase: untouched files carried by name
    val after = ManifestSink.manifestEntries(spark, root, 3)
    assert(after.intersect(before).nonEmpty,
      "untouched files must carry by reference through the rebase")
  }

  test("UPDATE racing an append that MAY match its predicate conflicts") {
    ensureCatalog()
    val root = freshTable("conf_updovl_")
    // the racing file's zone maps (k = [7, 7]) CONTAIN a key the
    // UPDATE's predicate reads — had the update serialized after the
    // insert it would have rewritten that row, so the rebase must
    // refuse (Delta's ConcurrentAppendException discipline)
    GraftTable.replaceCommitRaceHook = Some(() =>
      spark.sql(s"INSERT INTO graft.`$root` VALUES (7, 700)"))
    val e = try intercept[Exception] {
      spark.sql(s"UPDATE graft.`$root` SET v = -1 WHERE k IN (5, 7)")
    } finally GraftTable.replaceCommitRaceHook = None
    assert(e.getMessage.contains("appended") ||
      e.getCause != null && e.getCause.getMessage.contains("appended"),
      s"a read-set-overlapping append must conflict: ${e.getMessage}")
    // the winner's row is intact, the loser's update is absent
    assert(spark.sql(s"SELECT v FROM graft.`$root` WHERE k = 7 ORDER BY v")
      .collect().map(_.getLong(0)).toSeq == Seq(14L, 700L))
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root` WHERE v = -1")
      .head().getLong(0) == 0L)
  }

  test("MERGE racing ANY data-adding append conflicts: its read set has no bound") {
    ensureCatalog()
    val root = freshTable("conf_mrg_")
    Seq((5L, -1L), (7L, -1L)).toDF("k", "v")
      .createOrReplaceTempView("conf_mrg_updates")
    // the appended key (900) is DISJOINT from the merge's source keys,
    // but the engine cannot know that at commit time — the source is
    // gone; a matching or duplicate key would corrupt (ADVICE r14), so
    // the rebase refuses and the loser re-runs (Delta throws
    // ConcurrentAppendException for MERGE-vs-append even under
    // WriteSerializable)
    GraftTable.replaceCommitRaceHook = Some(() =>
      spark.sql(s"INSERT INTO graft.`$root` VALUES (900, 900)"))
    val e = try intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$root` t USING conf_mrg_updates u ON t.k = u.k
           |WHEN MATCHED THEN UPDATE SET t.v = u.v""".stripMargin)
    } finally GraftTable.replaceCommitRaceHook = None
    assert(e.getMessage.contains("appended") ||
      e.getCause != null && e.getCause.getMessage.contains("appended"),
      s"MERGE-vs-append must conflict: ${e.getMessage}")
    // the racing append stands; the merge's effect is absent
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root` WHERE k = 900")
      .head().getLong(0) == 1L)
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root` WHERE v = -1")
      .head().getLong(0) == 0L)
    // MERGE still rebases through PURE-METADATA races (ANALYZE-class):
    // re-run with a constraint DDL as the racing epoch
    GraftTable.replaceCommitRaceHook = Some(() =>
      spark.sql(s"ALTER TABLE graft.`$root` ADD CONSTRAINT kpos CHECK (k >= 0)"))
    try spark.sql(
      s"""MERGE INTO graft.`$root` t USING conf_mrg_updates u ON t.k = u.k
         |WHEN MATCHED THEN UPDATE SET t.v = u.v""".stripMargin)
    finally GraftTable.replaceCommitRaceHook = None
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root` WHERE v = -1")
      .head().getLong(0) == 2L, "a pure-metadata race must still rebase")
  }

  test("MERGE racing an OVERLAPPING rewrite still fails (the loser re-runs)") {
    ensureCatalog()
    val root = freshTable("conf_ovl_")
    Seq((5L, -1L)).toDF("k", "v").createOrReplaceTempView("conf_ovl_updates")
    // the racing UPDATE rewrites the same low-key files the merge
    // scanned: its epoch REMOVES files — never rebase-eligible
    GraftTable.replaceCommitRaceHook = Some(() =>
      spark.sql(s"UPDATE graft.`$root` SET v = v + 1000 WHERE k = 6"))
    val e = try intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$root` t USING conf_ovl_updates u ON t.k = u.k
           |WHEN MATCHED THEN UPDATE SET t.v = u.v""".stripMargin)
    } finally GraftTable.replaceCommitRaceHook = None
    assert(e.getMessage.contains("not rebase-eligible") ||
      e.getCause != null && e.getCause.getMessage.contains("not rebase-eligible"),
      s"overlapping rewrites must conflict: ${e.getMessage}")
    // the winner's effect is intact, the loser's is absent
    assert(spark.sql(s"SELECT v FROM graft.`$root` WHERE k = 6")
      .head().getLong(0) == 1012L)
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root` WHERE v = -1")
      .head().getLong(0) == 0L)
  }

  test("MERGE racing a concurrent MoR takedown fails (DV change invalidates the read)") {
    ensureCatalog()
    val root = freshTable("conf_dv_")
    Seq((5L, -1L)).toDF("k", "v").createOrReplaceTempView("conf_dv_updates")
    GraftTable.replaceCommitRaceHook = Some(() => {
      spark.conf.set("spark.graft.delete.mode", "mor")
      try spark.sql(s"DELETE FROM graft.`$root` WHERE k = 90")
      finally spark.conf.unset("spark.graft.delete.mode")
    })
    val e = try intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$root` t USING conf_dv_updates u ON t.k = u.k
           |WHEN MATCHED THEN UPDATE SET t.v = u.v""".stripMargin)
    } finally GraftTable.replaceCommitRaceHook = None
    assert(e.getMessage.contains("delete vectors") ||
      e.getCause != null && e.getCause.getMessage.contains("delete vectors"),
      s"a concurrent takedown must conflict: ${e.getMessage}")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root` WHERE k = 90")
      .head().getLong(0) == 0L, "the takedown itself stands")
  }

  test("serializable isolation disables rebase: any advance conflicts") {
    ensureCatalog()
    val root = freshTable("conf_ser_")
    Seq((5L, -1L)).toDF("k", "v").createOrReplaceTempView("conf_ser_updates")
    spark.conf.set("spark.graft.isolation", "serializable")
    GraftTable.replaceCommitRaceHook = Some(() =>
      spark.sql(s"INSERT INTO graft.`$root` VALUES (901, 901)"))
    try {
      val e = intercept[Exception] {
        spark.sql(
          s"""MERGE INTO graft.`$root` t USING conf_ser_updates u ON t.k = u.k
             |WHEN MATCHED THEN UPDATE SET t.v = u.v""".stripMargin)
      }
      assert(e.getMessage.contains("serializable") ||
        e.getCause != null && e.getCause.getMessage.contains("serializable"),
        e.getMessage)
    } finally {
      GraftTable.replaceCommitRaceHook = None
      spark.conf.unset("spark.graft.isolation")
    }
  }

  test("a lost INSERT race rebases the staged files instead of rewriting them") {
    ensureCatalog()
    val root = freshTable("conf_ins_")
    // stage an append for epoch 2, then lose the race to a SQL INSERT
    val staged = ManifestSink.stageAppend(
      (200L until 210L).map(i => (i, i * 2L)).toDF("k", "v"), root, 2,
      ManifestSink.WriteSpec(Seq("k")), unique = true)
    val freshRels = staged.relFiles.filter(_.contains(s"-a${staged.token}/"))
    assert(freshRels.nonEmpty)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mtimes(): Map[String, Long] = freshRels.map(r =>
      r -> fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$root/$r"))
        .getModificationTime).toMap
    val mtBefore = mtimes()
    spark.sql(s"INSERT INTO graft.`$root` VALUES (900, 900)") // epoch 2 taken
    intercept[ManifestSink.ManifestConflictException] {
      ManifestSink.commitStaged(spark, staged)
    }
    val obs = ManifestSink.commitSchema(spark, root, 1).map(_.json)
    val rebased = ManifestSink.rebaseStagedInsert(spark, staged,
      overwrite = false, obs)
    assert(rebased.isDefined, "a schema-stable append must rebase")
    ManifestSink.commitStaged(spark, rebased.get)
    assert(ManifestSink.currentEpoch(spark, root) == 3)
    // every write visible; the staged files were NOT rewritten
    assert(ManifestSink.read(spark, root).count() == 111L)
    assert(mtimes() == mtBefore, "rebase must reuse the staged files verbatim")
    // the rebased epoch's stats still prune (carried + fresh rows)
    val (_, hit, all) = ManifestSink.readPruned(spark, root, col("k").between(200L, 209L))
    assert(hit < all, s"zone maps must survive the rebase: $hit of $all")
    // and a schema CHANGE between stage and commit refuses the rebase
    val staged2 = ManifestSink.stageAppend(
      (300L until 310L).map(i => (i, i * 2L)).toDF("k", "v"), root, 4,
      ManifestSink.WriteSpec(Seq("k")), unique = true)
    spark.sql(s"ALTER TABLE graft.`$root` ADD COLUMNS (extra LONG)")
    intercept[ManifestSink.ManifestConflictException] {
      ManifestSink.commitStaged(spark, staged2)
    }
    assert(ManifestSink.rebaseStagedInsert(spark, staged2, overwrite = false,
      ManifestSink.commitSchema(spark, root, 3).map(_.json)).isEmpty,
      "an intervening schema change must force a full restage")
  }

  test("a constraint added mid-race re-audits the rebased insert") {
    ensureCatalog()
    val root = freshTable("conf_chk_")
    // the racing commit BOTH advances the epoch (forcing the rebase)
    // and adds a CHECK the staged rows violate — the re-audit at
    // rebase time must reject the insert before it becomes visible
    GraftTable.insertCommitRaceHook = Some(() => {
      // the ADD itself now commits a carry epoch (VERDICT r14 #5), so
      // the racing data append lands on whatever epoch follows it
      spark.sql(s"ALTER TABLE graft.`$root` ADD CONSTRAINT vcap CHECK (v < 5000)")
      ManifestSink.publish(
        Seq((500L, 1000L)).toDF("k", "v"), root,
        ManifestSink.currentEpoch(spark, root) + 1,
          ManifestSink.WriteSpec(Seq("k")), append = true): Unit
    })
    val e = try intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$root` VALUES (600, 999999)")
    } finally GraftTable.insertCommitRaceHook = None
    assert(e.getMessage.contains("CHECK") ||
      e.getCause != null && e.getCause.getMessage.contains("CHECK"),
      s"the mid-race constraint must gate the rebased insert: ${e.getMessage}")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root` WHERE k = 600")
      .head().getLong(0) == 0L, "the violating insert must never be visible")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root` WHERE k = 500")
      .head().getLong(0) == 1L, "the racing append stands")
  }
}
