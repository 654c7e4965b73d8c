package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.catalog.{GraftCatalog, GraftTable}
import graft.sink.ManifestSink

/** The DSv2 SQL catalog over manifest tables: planning-time skipping
  * through SQL predicates, column pruning into the V2 scan, VERSION AS
  * OF, atomic INSERT epochs, CoW DELETE lowering + refusals, and the
  * warehouse-rooted DDL surface. */
class GraftCatalogSpec extends SparkTestBase {
  import spark.implicits._

  private def ensureCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)

  private def mkTable(prefix: String, n: Int = 200): String = {
    ensureCatalog()
    val root = tmpDir(prefix) + "/t"
    Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
      .filter(col("event_id") < n)
      .repartitionByRange(8, col("event_id"))
      .sortWithinPartitions("event_id")
      .createOrReplaceTempView("cat_spec_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM cat_spec_src")
    root
  }

  test("SQL range predicate prunes the planned file list; unfiltered reads all") {
    val root = mkTable("gcat_skip_")
    val total = ManifestSink.manifestFiles(spark, root, 1).size
    assert(total > 1, "fixture must split across files for skipping to show")

    spark.sql(s"SELECT * FROM graft.`$root` WHERE event_id BETWEEN 10 AND 29").collect()
    val planned = GraftTable.lastPlannedFiles
    assert(planned >= 1 && planned < total, s"expected pruning: $planned of $total")

    spark.sql(s"SELECT * FROM graft.`$root`").collect()
    assert(GraftTable.lastPlannedFiles == total)
  }

  test("impossible predicate plans ZERO files and returns empty, schema intact") {
    val root = mkTable("gcat_zero_")
    val out = spark.sql(s"SELECT * FROM graft.`$root` WHERE event_id = -5")
    assert(out.collect().isEmpty)
    assert(GraftTable.lastPlannedFiles == 0)
    assert(out.schema.fieldNames.toSeq == Seq("event_id", "user_id", "value"))
  }

  test("skipping is advisory: catalog read equals ManifestSink.read under any filter") {
    val root = mkTable("gcat_par_")
    val viaSql = spark.sql(
      s"SELECT event_id, user_id FROM graft.`$root` WHERE event_id >= 150")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val viaApi = ManifestSink.read(spark, root)
      .filter(col("event_id") >= 150)
      .select("event_id", "user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(viaSql == viaApi && viaSql.nonEmpty)
  }

  test("column pruning reaches the V2 scan's read schema") {
    val root = mkTable("gcat_prune_")
    val df = spark.sql(s"SELECT user_id FROM graft.`$root`")
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.readSchema().fieldNames.toSeq
    }
    assert(scans == Seq(Seq("user_id")), s"read schema not pruned: $scans")
  }

  test("INSERT INTO appends an atomic stats-carrying epoch; pruning persists") {
    val root = mkTable("gcat_ins_")
    Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
      .filter(col("event_id").between(200, 399))
      .repartitionByRange(4, col("event_id"))
      .sortWithinPartitions("event_id")
      .createOrReplaceTempView("cat_spec_ins")
    spark.sql(s"INSERT INTO graft.`$root` SELECT * FROM cat_spec_ins")
    assert(ManifestSink.currentEpoch(spark, root) == 2)
    val n = spark.sql(s"SELECT count(*) AS c FROM graft.`$root`")
      .collect()(0).getLong(0)
    assert(n == 400)
    // the appended epoch's files carry zone maps too: a range inside
    // the appended half still prunes
    val total = ManifestSink.manifestFiles(spark, root, 2).size
    spark.sql(s"SELECT * FROM graft.`$root` WHERE event_id BETWEEN 250 AND 269").collect()
    assert(GraftTable.lastPlannedFiles < total)
  }

  test("INSERT OVERWRITE commits a fresh snapshot epoch; history survives") {
    val root = mkTable("gcat_ovr_", n = 50)
    spark.sql(s"INSERT OVERWRITE graft.`$root` " +
      "SELECT event_id + 500 AS event_id, user_id, value FROM cat_spec_src")
    assert(ManifestSink.currentEpoch(spark, root) == 2)
    val mins = spark.sql(s"SELECT min(event_id) AS m FROM graft.`$root`")
      .collect()(0).getLong(0)
    assert(mins >= 500)
    val old = spark.sql(s"SELECT max(event_id) AS m FROM graft.`$root` VERSION AS OF 1")
      .collect()(0).getLong(0)
    assert(old < 500)
  }

  test("VERSION AS OF pins reads; writes to a pinned table are refused") {
    val root = mkTable("gcat_trav_", n = 50)
    spark.sql(s"INSERT INTO graft.`$root` " +
      "SELECT event_id + 1000 AS event_id, user_id, value FROM cat_spec_src")
    val v1 = spark.sql(s"SELECT count(*) AS c FROM graft.`$root` VERSION AS OF 1")
      .collect()(0).getLong(0)
    assert(v1 == 50)
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$root` VERSION AS OF 1 SELECT * FROM cat_spec_src")
    }
    assert(e.getMessage != null)
  }

  test("DELETE WHERE key IN (...) lowers onto CoW: bounded rewrite, audit epoch pinned") {
    val root = mkTable("gcat_del_")
    val filesBefore = ManifestSink.manifestFiles(spark, root, 1)
    spark.sql(s"DELETE FROM graft.`$root` WHERE event_id IN (3, 77)")
    assert(ManifestSink.currentEpoch(spark, root) == 2)
    val after = spark.sql(
      s"SELECT count(*) AS c FROM graft.`$root` WHERE event_id IN (3, 77)")
      .collect()(0).getLong(0)
    assert(after == 0)
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root`")
      .collect()(0).getLong(0) == 198)
    // bounded rewrite: untouched files carry by name into epoch 2
    val filesAfter = ManifestSink.manifestFiles(spark, root, 2)
    val carried = filesAfter.map(f => f.split("/").last)
      .intersect(filesBefore.map(f => f.split("/").last))
    assert(carried.nonEmpty, "CoW delete should carry untouched files")
    // audit: the pre-delete epoch still answers
    assert(spark.sql(
      s"SELECT count(*) AS c FROM graft.`$root` VERSION AS OF 1 " +
        "WHERE event_id IN (3, 77)").collect()(0).getLong(0) == 2)
  }

  test("range DELETE takes the group-based row-level path: bounded rewrite, rows preserved") {
    val root = mkTable("gcat_delrange_")
    val before = ManifestSink.manifestFiles(spark, root, 1).map(_.split("/").last)
    // not expressible as a point/IN metadata delete -> Spark rewrites
    // into ReplaceData over the row-level operation
    spark.sql(s"DELETE FROM graft.`$root` WHERE event_id < 10")
    assert(ManifestSink.currentEpoch(spark, root) == 2)
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root`")
      .collect()(0).getLong(0) == 190)
    assert(spark.sql(s"SELECT min(event_id) AS m FROM graft.`$root`")
      .collect()(0).getLong(0) == 10)
    // group granularity: the clustered layout keeps most files out of
    // the rewrite — they carry by name into epoch 2
    val after = ManifestSink.manifestFiles(spark, root, 2).map(_.split("/").last)
    assert(after.intersect(before).nonEmpty, "untouched files must carry")
  }

  test("UPDATE rewrites only the affected groups; untouched rows bit-identical") {
    val root = mkTable("gcat_upd_")
    val before = ManifestSink.manifestFiles(spark, root, 1).map(_.split("/").last)
    spark.sql(s"UPDATE graft.`$root` SET value = value + 1000.0 WHERE event_id < 20")
    assert(ManifestSink.currentEpoch(spark, root) == 2)
    val updated = spark.sql(
      s"SELECT count(*) AS c FROM graft.`$root` WHERE value >= 1000.0 AND event_id < 20")
      .collect()(0).getLong(0)
    assert(updated == 20)
    // untouched rows identical to the pre-update epoch
    val pre = spark.sql(
      s"SELECT event_id, value FROM graft.`$root` VERSION AS OF 1 WHERE event_id >= 20")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val post = spark.sql(
      s"SELECT event_id, value FROM graft.`$root` WHERE event_id >= 20")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(pre == post)
    val after = ManifestSink.manifestFiles(spark, root, 2).map(_.split("/").last)
    assert(after.intersect(before).nonEmpty, "untouched files must carry")
  }

  test("MERGE INTO updates matches and inserts the rest in one atomic epoch") {
    val root = mkTable("gcat_merge_")
    // source: ids 5 and 7 exist in the table (matched -> update);
    // ids 9005, 9007 do not (not matched -> insert)
    val srcPath = tmpDir("gcat_merge_src_")
    val base = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
      .filter(col("event_id").isin(5L, 7L))
    base.unionByName(base.withColumn("event_id", col("event_id") + 9000))
      .withColumn("value", lit(-1.0))
      .write.mode("overwrite").parquet(srcPath)
    spark.read.parquet(srcPath).createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO graft.`$root` t USING merge_src s
         |ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET t.value = s.value
         |WHEN NOT MATCHED THEN INSERT (event_id, user_id, value)
         |  VALUES (s.event_id, s.user_id, s.value)""".stripMargin)
    assert(ManifestSink.currentEpoch(spark, root) == 2)
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root`")
      .collect()(0).getLong(0) == 202, "200 rows + 2 inserts")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root` WHERE value = -1.0")
      .collect()(0).getLong(0) == 4, "2 updates + 2 inserts carry the source value")
    assert(spark.sql(
      s"SELECT count(*) AS c FROM graft.`$root` WHERE event_id > 8000")
      .collect()(0).getLong(0) == 2)
    // pre-merge epoch still pinned
    assert(spark.sql(
      s"SELECT count(*) AS c FROM graft.`$root` VERSION AS OF 1 WHERE value = -1.0")
      .collect()(0).getLong(0) == 0)
  }

  test("warehouse-rooted DDL: CREATE/SHOW/RENAME/DROP against a root catalog") {
    val wh = tmpDir("gcat_wh_")
    spark.conf.set("spark.sql.catalog.graft_wh", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_wh.root", wh)
    spark.sql("CREATE TABLE graft_wh.t1 (id BIGINT, name STRING)")
    // a created-but-empty table answers its declared schema
    assert(spark.table("graft_wh.t1").schema.fieldNames.toSeq == Seq("id", "name"))
    intercept[TableAlreadyExistsException] {
      spark.sql("CREATE TABLE graft_wh.t1 (id BIGINT)")
    }
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").createOrReplaceTempView("wh_src")
    spark.sql("INSERT INTO graft_wh.t1 SELECT * FROM wh_src")
    assert(spark.sql("SELECT count(*) AS c FROM graft_wh.t1").collect()(0).getLong(0) == 2)
    val listed = spark.sql("SHOW TABLES IN graft_wh").collect().map(_.getString(1)).toSet
    assert(listed.contains("t1"))
    spark.sql("ALTER TABLE graft_wh.t1 RENAME TO t2")
    assert(spark.sql("SELECT count(*) AS c FROM graft_wh.t2").collect()(0).getLong(0) == 2)
    spark.sql("DROP TABLE graft_wh.t2")
    // the analyzer wraps the catalog's NoSuchTableException into
    // TABLE_OR_VIEW_NOT_FOUND
    intercept[AnalysisException] {
      spark.table("graft_wh.t2").collect()
    }
  }

  test("join-driven runtime filters re-prune the planned file list (dynamic file pruning)") {
    val root = mkTable("gcat_dfp_", n = 400)
    val total = ManifestSink.manifestFiles(spark, root, 1).size
    assert(total > 1)
    // the dim must be a real scan (a LocalRelation folds its filter
    // away and DPP sees no selective predicate to derive keys from)
    val dimPath = tmpDir("gcat_dfp_dim_")
    Seq((3L, "keep"), (5L, "keep"), (397L, "drop"))
      .toDF("event_id", "tag").write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("dfp_dim")
    val out = spark.sql(
      s"""SELECT t.event_id, d.tag FROM graft.`$root` t
         |JOIN dfp_dim d ON t.event_id = d.event_id
         |WHERE d.tag = 'keep'""".stripMargin)
    val rows = out.collect()
    // the planner really planted the runtime filter (not just a
    // fortunate static prune)
    assert(out.queryExecution.executedPlan.toString.contains("dynamicpruning"),
      "expected a DynamicPruningExpression on the catalog scan")
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(3L, 5L))
    // the runtime IN-list (the dim side's surviving keys) reached the
    // scan and re-pruned: with the table range-clustered on event_id,
    // keys 3 and 5 live in one file
    assert(GraftTable.lastPlannedFiles >= 0 && GraftTable.lastPlannedFiles < total,
      s"expected dynamic file pruning: planned ${GraftTable.lastPlannedFiles} of $total")
  }

  test("global count/min/max answer from metadata only — zero data files planned") {
    val root = mkTable("gcat_magg_")
    val out = spark.sql(
      s"""SELECT count(*) AS n, min(event_id) AS lo, max(event_id) AS hi,
         |  min(user_id) AS ulo, max(user_id) AS uhi
         |FROM graft.`$root`""".stripMargin)
    val row = out.collect()(0)
    assert(GraftTable.lastMetaAggOnly, "expected the metadata-only scan")
    assert(GraftTable.lastPlannedFiles == 0)
    // no parquet scan in the executed plan — the scan is the one-row replay
    val scans = out.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.getClass.getSimpleName
    }
    assert(scans == Seq("MetaAggScan"), s"got $scans")
    // exactness vs the real aggregate
    val exact = ManifestSink.read(spark, root)
      .agg(count(lit(1)), min(col("event_id")), max(col("event_id")),
        min(col("user_id")), max(col("user_id"))).collect()(0)
    assert(row.getLong(0) == exact.getLong(0) && row.getLong(1) == exact.getLong(1) &&
      row.getLong(2) == exact.getLong(2) && row.getLong(3) == exact.getLong(3) &&
      row.getLong(4) == exact.getLong(4))
  }

  test("metadata aggregate answers string min/max in UTF8 binary order") {
    ensureCatalog()
    val root = tmpDir("gcat_maggs_") + "/t"
    // U+1D11E (supplementary plane) sorts ABOVE U+FFFD in UTF-8 binary
    // order but BELOW it in Java's UTF-16 order — the max must be the
    // supplementary-plane string (the ADVICE r11 ordering class)
    Seq(("a", 1L), ("�", 2L), ("𝄞", 3L))
      .toDF("s", "k").createOrReplaceTempView("maggs_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM maggs_src")
    val row = spark.sql(s"SELECT min(s) AS lo, max(s) AS hi FROM graft.`$root`")
      .collect()(0)
    assert(GraftTable.lastMetaAggOnly)
    assert(row.getString(0) == "a" && row.getString(1) == "𝄞")
    // and it matches the real (scan-side) aggregate bit for bit
    val exact = ManifestSink.read(spark, root).agg(min(col("s")), max(col("s"))).collect()(0)
    assert(row.getString(0) == exact.getString(0) && row.getString(1) == exact.getString(1))
  }

  test("metadata aggregate refuses shapes stats cannot answer (filter, group, count(col))") {
    val root = mkTable("gcat_maggref_")
    // WHERE → residual filter → ordinary plan
    spark.sql(s"SELECT count(*) AS n FROM graft.`$root` WHERE event_id < 10").collect()
    assert(!GraftTable.lastMetaAggOnly)
    // GROUP BY → per-group values are not in file stats
    spark.sql(s"SELECT user_id, count(*) AS n FROM graft.`$root` GROUP BY user_id").collect()
    assert(!GraftTable.lastMetaAggOnly)
    // count(col) on a nullable column — stats are null-blind
    spark.sql(s"SELECT count(user_id) AS n FROM graft.`$root`").collect()
    assert(!GraftTable.lastMetaAggOnly)
    // and all three still answer correctly through the ordinary plan
    val n = spark.sql(s"SELECT count(*) AS n FROM graft.`$root` WHERE event_id < 10")
      .collect()(0).getLong(0)
    assert(n == 10)
  }

  test("maintenance SQL: OPTIMIZE compacts, DESCRIBE HISTORY audits, VACUUM reclaims") {
    val root = mkTable("gcat_maint_", n = 400)
    spark.sql(s"INSERT INTO graft.`$root` " +
      "SELECT event_id + 1000 AS event_id, user_id, value FROM cat_spec_src")
    val opt = spark.sql(s"OPTIMIZE graft.`$root` FILES 2").collect()(0)
    assert(opt.getInt(1) == 3, "OPTIMIZE commits the next epoch")
    assert(opt.getInt(3) <= 2 && opt.getInt(2) > opt.getInt(3),
      s"file count must drop: ${opt.getInt(2)} -> ${opt.getInt(3)}")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root`")
      .collect()(0).getLong(0) == 800, "compaction preserves content")
    // compaction rewrote stats: pruning still bites through SQL (probe
    // the extreme low range — with only 2 clustered files, any range
    // split leaves ids 0..5 in the first file alone)
    val total = ManifestSink.manifestFiles(spark, root, 3).size
    spark.sql(s"SELECT * FROM graft.`$root` WHERE event_id <= 5").collect()
    assert(GraftTable.lastPlannedFiles < total)
    val hist = spark.sql(s"DESCRIBE HISTORY graft.`$root`").collect()
    assert(hist.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(hist.last.getInt(4) == opt.getInt(3), "history reports the compacted file count")
    val vac = spark.sql(s"VACUUM graft.`$root` RETAIN 1 EPOCHS").collect()(0)
    assert(vac.getInt(1) == 2, s"expected 2 dropped epochs, got ${vac.getInt(1)}")
    assert(spark.sql(s"DESCRIBE HISTORY graft.`$root`").collect()
      .map(_.getInt(0)).toSeq == Seq(3))
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root`")
      .collect()(0).getLong(0) == 800, "vacuum never touches the live epoch")
    // malformed maintenance text fails with the graft error, and
    // ordinary SQL is untouched by the parser extension
    val e = intercept[Exception] {
      spark.sql(s"VACUUM graft.`$root` RETAIN many EPOCHS")
    }
    assert(e.getMessage.contains("malformed graft maintenance"))
    assert(spark.sql("SELECT 1 AS one").collect()(0).getInt(0) == 1)
  }

  test("bare LIMIT caps the planned file list via committed __count rows") {
    val root = mkTable("gcat_lim_")
    val total = ManifestSink.manifestFiles(spark, root, 1).size
    assert(total > 2)
    val rows = spark.sql(s"SELECT * FROM graft.`$root` LIMIT 5").collect()
    assert(rows.length == 5, "Spark's own limit still applies above the cap")
    assert(GraftTable.lastPlannedFiles < total,
      s"expected a file-list cap: ${GraftTable.lastPlannedFiles} of $total")
    // a filtered LIMIT must NOT cap (per-file surviving counts are
    // unknowable from metadata) — all zone-map-surviving files plan
    val r2 = spark.sql(
      s"SELECT * FROM graft.`$root` WHERE user_id >= 0 LIMIT 5").collect()
    assert(r2.length == 5)
    assert(GraftTable.lastPlannedFiles == total)
  }

  test("scan statistics come from the manifest; a small graft table auto-broadcasts") {
    val root = mkTable("gcat_stats_")
    val df = spark.sql(s"SELECT * FROM graft.`$root`")
    val stats = df.queryExecution.optimizedPlan.stats
    val realBytes = ManifestSink.manifestFiles(spark, root, 1).map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(hp).getLen
    }.sum
    assert(stats.sizeInBytes == BigInt(realBytes),
      s"expected manifest-derived size $realBytes, got ${stats.sizeInBytes}")
    assert(stats.rowCount.contains(BigInt(200)), s"got ${stats.rowCount}")
    // a pruning filter shrinks the reported size pre-join-planning
    val filtered = spark.sql(s"SELECT * FROM graft.`$root` WHERE event_id <= 5")
    assert(filtered.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(realBytes))
    // and the finite size makes the cost-based broadcast choice: a
    // graft-graft join broadcasts the small side with NO hint
    val big = mkTable("gcat_stats_big_", n = 400)
    val joined = spark.sql(
      s"""SELECT a.event_id FROM graft.`$big` a
         |JOIN graft.`$root` b ON a.event_id = b.event_id""".stripMargin)
    joined.collect()
    assert(joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "manifest stats should enable the auto-broadcast")
  }

  test("writeStream.format(graft-manifest) commits one txn epoch per micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val root = tmpDir("gcat_ssink_") + "/t"
    val ck = tmpDir("gcat_ssink_ck_")
    val q = mem.toDF().toDF("k", "v").writeStream
      .format("graft-manifest")
      .option("root", root).option("appId", "ssink-spec")
      .option("statsCols", "k")
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    mem.addData((1L, "a"), (2L, "b"))
    q.awaitTermination(60000); q.stop()
    val q2 = mem.toDF().toDF("k", "v").writeStream
      .format("graft-manifest")
      .option("root", root).option("appId", "ssink-spec")
      .option("statsCols", "k")
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    mem.addData((3L, "c"))
    q2.awaitTermination(60000); q2.stop()
    assert(ManifestSink.currentEpoch(spark, root) == 2)
    val content = ManifestSink.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(content == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // txn identity recorded (the replay no-op contract rides on it)
    assert(ManifestSink.lastCommittedVersion(spark, root, "ssink-spec").isDefined)
    // the streamed table prunes (statsCols flowed through the sink)
    val (_, hit, all) = ManifestSink.readPruned(spark, root, col("k").between(3L, 3L))
    assert(hit < all || all == 1)
  }

  test("OPTIMIZE ZORDER BY lays out Morton rectangles: both dimensions prune") {
    ensureCatalog()
    val root = tmpDir("gcat_zord_") + "/t"
    // deliberately clustered on NEITHER column's own order
    Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
      .filter(col("event_id") < 800)
      .createOrReplaceTempView("zord_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM zord_src")
    val r = spark.sql(
      s"OPTIMIZE graft.`$root` ZORDER BY (event_id, user_id) FILES 16").collect()(0)
    assert(r.getInt(1) == 2)
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root`")
      .collect()(0).getLong(0) == 800, "rewrite preserves content")
    val (_, h1, t1) = ManifestSink.readPruned(spark, root, col("event_id").between(0L, 99L))
    val uMax = Tables.events(spark, sf).agg(max(col("user_id"))).collect()(0).getLong(0)
    val (_, h2, t2) = ManifestSink.readPruned(spark, root, col("user_id").between(0L, uMax / 5))
    assert(h1 < t1, s"event_id slab should prune: $h1 of $t1")
    assert(h2 < t2, s"user_id slab should prune: $h2 of $t2")
  }

  test("DESCRIBE CHANGES surfaces the epoch-range change feed in SQL") {
    val root = mkTable("gcat_chg_", n = 50)
    Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
      .filter(col("event_id").between(50, 59))
      .createOrReplaceTempView("chg_ins")
    spark.sql(s"INSERT INTO graft.`$root` SELECT * FROM chg_ins")
    val feed = spark.sql(
      s"DESCRIBE CHANGES graft.`$root` KEY event_id FROM 1 TO 2").collect()
    assert(feed.length == 10)
    assert(feed.forall(_.getString(3) == "insert"))
    assert(feed.forall(_.getInt(4) == 2))
    assert(feed.map(_.getLong(0)).sorted.toSeq == (50L to 59L))
  }

  /** collectAll that also descends into executed AQE query stages. */
  private def deepAll[T](p: org.apache.spark.sql.execution.SparkPlan)(
      f: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] = {
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    (if (f.isDefinedAt(p)) Seq(f(p)) else Nil) ++ kids.flatMap(deepAll(_)(f))
  }

  private def shuffles(df: org.apache.spark.sql.DataFrame) =
    deepAll(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }

  private def withSpjConfs[T](body: => T): T = {
    val keys = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      // join keys may be a SUPERSET of the bucket key (equal bucket
      // keys still co-locate the extra-key matches)
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("storage-partitioned join: same-bucket CTAS tables join with zero shuffles") {
    ensureCatalog()
    val base = tmpDir("gcat_spj_")
    val (r1, r2) = (s"$base/a", s"$base/b")
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    ev.filter(col("event_id") < 600).createOrReplaceTempView("spj_a")
    ev.filter(col("event_id") >= 300 && col("event_id") < 900)
      .createOrReplaceTempView("spj_b")
    spark.sql(s"CREATE TABLE graft.`$r1` PARTITIONED BY (bucket(8, user_id)) " +
      "AS SELECT * FROM spj_a")
    spark.sql(s"CREATE TABLE graft.`$r2` PARTITIONED BY (bucket(8, user_id)) " +
      "AS SELECT * FROM spj_b")
    assert(ManifestSink.bucketSpec(spark, r1, 1).exists(_.numBuckets == 8))
    // every committed file holds exactly one bucket
    val bs = ManifestSink.bucketSpec(spark, r1, 1).get
    assert(bs.fileBuckets.values.forall(b => b >= 0 && b < 8))

    withSpjConfs {
      val out = spark.sql(
        s"""SELECT a.user_id, count(*) AS pairs, sum(a.value + b.value) AS v
           |FROM graft.`$r1` a JOIN graft.`$r2` b ON a.user_id = b.user_id
           |GROUP BY a.user_id""".stripMargin)
      val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(shuffles(out).isEmpty,
        s"SPJ must drop both join shuffles AND the agg exchange:\n" +
          out.queryExecution.executedPlan)
      // correctness parity with the plain recompute
      val exp = ev.filter(col("event_id") < 600).as("a")
        .join(ev.filter(col("event_id") >= 300 && col("event_id") < 900).as("b"),
          "user_id")
        .groupBy("user_id").agg(count(lit(1)).as("pairs"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got.toSeq == exp.toSeq)
    }
  }

  test("SPJ survives bucketed appends AND CoW rewrites (replacements re-lay)") {
    ensureCatalog()
    val base = tmpDir("gcat_spjd_")
    val (r1, r2) = (s"$base/a", s"$base/b")
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    ev.filter(col("event_id") < 200).createOrReplaceTempView("spjd_a")
    ev.filter(col("event_id") < 400).createOrReplaceTempView("spjd_b")
    spark.sql(s"CREATE TABLE graft.`$r1` PARTITIONED BY (bucket(4, user_id)) " +
      "AS SELECT * FROM spjd_a")
    spark.sql(s"CREATE TABLE graft.`$r2` PARTITIONED BY (bucket(4, user_id)) " +
      "AS SELECT * FROM spjd_b")
    ev.filter(col("event_id").between(200, 299)).createOrReplaceTempView("spjd_a2")
    spark.sql(s"INSERT INTO graft.`$r1` SELECT * FROM spjd_a2")
    assert(ManifestSink.bucketSpec(spark, r1, 2).isDefined,
      "append must carry the bucket layout")

    withSpjConfs {
      val q = s"SELECT a.event_id, a.user_id FROM graft.`$r1` a " +
        s"JOIN graft.`$r2` b ON a.user_id = b.user_id AND a.event_id = b.event_id"
      val out = spark.sql(q)
      val n = out.collect().length
      assert(n == 300, s"appended rows must join: $n")
      assert(shuffles(out).isEmpty, s"post-append SPJ:\n${out.queryExecution.executedPlan}")

      // a CoW rewrite re-lays its replacement files into the same
      // bucket spec and commits fresh __bucket rows (VERDICT r16):
      // the layout keeps covering the manifest and SPJ keeps planning
      // shuffle-free
      spark.sql(s"DELETE FROM graft.`$r1` WHERE event_id IN (5)")
      val bs = ManifestSink.bucketSpec(spark, r1,
        ManifestSink.currentEpoch(spark, r1))
      assert(bs.exists(b => b.keyCol == "user_id" && b.numBuckets == 4),
        s"a CoW DELETE must keep the bucket layout, got $bs")
      val out2 = spark.sql(q)
      assert(out2.collect().length == 299)
      assert(shuffles(out2).isEmpty,
        s"post-DELETE same-layout join must stay shuffle-free:\n" +
          out2.queryExecution.executedPlan)
    }
  }

  test("one-side-bucketed join shuffles ONLY the unbucketed side via the V2 bucket function") {
    ensureCatalog()
    val base = tmpDir("gcat_spj1_")
    val r1 = s"$base/a"
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    ev.filter(col("event_id") < 500).createOrReplaceTempView("spj1_a")
    spark.sql(s"CREATE TABLE graft.`$r1` PARTITIONED BY (bucket(4, user_id)) " +
      "AS SELECT * FROM spj1_a")
    // the other side is a plain view — NOT storage-partitioned
    ev.filter(col("event_id") < 100)
      .select(col("user_id"), col("event_id").as("probe_id"))
      .createOrReplaceTempView("spj1_dim")
    withSpjConfs {
      val prev = spark.conf.getOption("spark.sql.sources.v2.bucketing.shuffle.enabled")
      spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      try {
        val out = spark.sql(
          s"""SELECT a.user_id, count(*) AS pairs FROM graft.`$r1` a
             |JOIN spj1_dim d ON a.user_id = d.user_id
             |GROUP BY a.user_id""".stripMargin)
        val n = out.collect().length
        assert(n > 0)
        val ex = shuffles(out)
        // the 100 TB shape: the bucketed fact never moves; the small
        // side re-shuffles by floorMod(user_id, 4) (our produceResult)
        assert(ex.size == 1,
          s"expected exactly the dim-side function shuffle:\n${out.queryExecution.executedPlan}")
        assert(ex.head.outputPartitioning.numPartitions == 4)
      } finally prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", v)
        case None => spark.conf.unset("spark.sql.sources.v2.bucketing.shuffle.enabled")
      }
    }
  }

  test("partially-clustered SPJ: a skewed bucket still joins shuffle-free") {
    ensureCatalog()
    val base = tmpDir("gcat_spjs_")
    val (r1, r2) = (s"$base/fact", s"$base/dim")
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    // fact: user_id skewed hard onto one bucket (all rows keyed 4 -> bucket 0)
    ev.filter(col("event_id") < 600)
      .withColumn("user_id",
        when(col("event_id") < 500, lit(4L)).otherwise(col("user_id")))
      .createOrReplaceTempView("spjs_fact")
    ev.filter(col("event_id") < 200).createOrReplaceTempView("spjs_dim")
    spark.sql(s"CREATE TABLE graft.`$r1` PARTITIONED BY (bucket(4, user_id)) " +
      "AS SELECT * FROM spjs_fact")
    spark.sql(s"CREATE TABLE graft.`$r2` PARTITIONED BY (bucket(4, user_id)) " +
      "AS SELECT * FROM spjs_dim")
    withSpjConfs {
      val prev = spark.conf.getOption(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "true")
      try {
        // under partial clustering the replicated partitions are no
        // longer key-grouped for DOWNSTREAM operators, so pin the
        // JOIN itself: both inputs scan directly, zero exchanges
        // below the join
        val out = spark.sql(
          s"""SELECT f.user_id, f.event_id, d.event_id AS d_event
             |FROM graft.`$r1` f JOIN graft.`$r2` d ON f.user_id = d.user_id""".stripMargin)
        val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sorted
        assert(shuffles(out).isEmpty,
          s"skewed SPJ must stay shuffle-free:\n${out.queryExecution.executedPlan}")
        val exp = spark.sql(
          """SELECT f.user_id, f.event_id, d.event_id AS d_event
            |FROM spjs_fact f JOIN spjs_dim d ON f.user_id = d.user_id""".stripMargin)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
        assert(got.toSeq == exp.toSeq)
      } finally prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", v)
        case None => spark.conf.unset(
          "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
      }
    }
  }

  test("bucketed tables refuse null keys and unsupported partition transforms") {
    ensureCatalog()
    val base = tmpDir("gcat_spjr_")
    // the THREE-way composition is refused (any two transforms
    // compose since r17; bare identity and identity+bucket/time are
    // ACCEPTED)
    intercept[IllegalArgumentException] {
      spark.sql(s"CREATE TABLE graft.`$base/h` " +
        "(event_id BIGINT, d STRING, ts TIMESTAMP) " +
        "PARTITIONED BY (d, days(ts), bucket(4, event_id))")
    }
    val r = s"$base/t"
    spark.sql(s"CREATE TABLE graft.`$r` (event_id BIGINT, user_id BIGINT) " +
      "PARTITIONED BY (bucket(4, user_id))")
    Seq((1L, java.lang.Long.valueOf(7L)), (2L, null.asInstanceOf[java.lang.Long]))
      .toDF("event_id", "user_id").createOrReplaceTempView("spjr_null")
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$r` SELECT * FROM spjr_null")
    }
    assert(e.getMessage != null)
  }

  test("ALTER TABLE ADD COLUMNS: metadata-only evolution, null-filled reads, pinned travel") {
    val root = mkTable("gcat_alter_", n = 40)
    val filesBefore = ManifestSink.manifestFiles(spark, root, 1).toSet
    spark.sql(s"ALTER TABLE graft.`$root` ADD COLUMNS (flag STRING, score BIGINT)")
    assert(ManifestSink.currentEpoch(spark, root) == 2)
    // pure metadata: epoch 2 shares epoch 1's files byte-for-byte
    assert(ManifestSink.manifestFiles(spark, root, 2).toSet == filesBefore)
    val out = spark.sql(
      s"SELECT event_id, flag, score FROM graft.`$root` WHERE event_id < 3").collect()
    assert(out.length == 3 && out.forall(r => r.isNullAt(1) && r.isNullAt(2)))
    // the evolved table accepts new-shape inserts; old rows stay null
    spark.sql(s"INSERT INTO graft.`$root` " +
      "SELECT 1000L AS event_id, 1L AS user_id, 0.5D AS value, 'new' AS flag, 7L AS score")
    val got = spark.sql(
      s"SELECT flag, score FROM graft.`$root` WHERE event_id = 1000").collect()
    assert(got.length == 1 && got(0).getString(0) == "new" && got(0).getLong(1) == 7L)
    // time travel to the pre-evolution epoch keeps the old shape
    val pinned = spark.sql(s"SELECT * FROM graft.`$root` VERSION AS OF 1")
    assert(pinned.schema.fieldNames.toSeq == Seq("event_id", "user_id", "value"))
    // refusals: existing name, retype (rename/drop are now column
    // mapping — ColumnMappingSpec pins those)
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root` ADD COLUMNS (flag STRING)")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root` ALTER COLUMN score TYPE INT")
    }
  }

  test("CREATE/REFRESH MATERIALIZED VIEW: SQL lifecycle, incremental cursor, routing") {
    ensureCatalog()
    val base = tmpDir("gcat_mvsql_")
    val (src, view) = (s"$base/src", s"$base/view")
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    ev.filter(col("event_id") < 100).createOrReplaceTempView("mvsql_a")
    spark.sql(s"CREATE TABLE graft.`$src` AS SELECT * FROM mvsql_a")
    val c = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$view` KEY event_id " +
      s"AS SELECT user_id, COUNT(*) AS cnt, SUM(value) AS sum_value " +
      s"FROM graft.`$src` GROUP BY user_id").collect()(0)
    assert(c.getInt(2) == 1 && c.getInt(3) == 1)
    // view content == recompute
    def recompute(maxId: Int): Map[Long, Long] =
      ev.filter(col("event_id") < maxId).groupBy("user_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def viewCounts(): Map[Long, Long] =
      ManifestSink.read(spark, view).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viewCounts() == recompute(100))

    ev.filter(col("event_id").between(100, 149)).createOrReplaceTempView("mvsql_b")
    spark.sql(s"INSERT INTO graft.`$src` SELECT * FROM mvsql_b")
    val r = spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$view`").collect()(0)
    assert(r.getInt(1) == 2 && r.getInt(2) == 2, s"one refresh epoch: $r")
    assert(viewCounts() == recompute(150))
    // an up-to-date view no-ops (the txn cursor)
    assert(spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$view`")
      .collect()(0).getInt(1) == 2)
    // transparent routing: the registered base is the manifest read —
    // a matching aggregate's optimized plan loses its Aggregate node
    import org.apache.spark.sql.functions.{count => fcount, lit => flit, sum => fsum}
    val routed = ManifestSink.read(spark, src).groupBy("user_id")
      .agg(fcount(flit(1)).as("cnt"),
        fsum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .as("sum_value"))
    assert(!routed.queryExecution.optimizedPlan.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
      case _ => false
    }, s"aggregate must route to the view:\n${routed.queryExecution.optimizedPlan}")
    // a second CREATE refuses to clobber the existing view
    intercept[Exception] {
      spark.sql(s"CREATE MATERIALIZED VIEW graft.`$view` KEY event_id " +
        s"AS SELECT user_id, COUNT(*) AS cnt, SUM(value) AS sum_value " +
        s"FROM graft.`$src` GROUP BY user_id")
    }
    graft.plans.MatViews.deregister(s"mv:$view")
  }

  test("readStream.table tails a catalog table: snapshot then delta, restart resumes, rewrite refused") {
    ensureCatalog()
    val base = tmpDir("gcat_rst_")
    val root = s"$base/t"
    val ckpt = s"$base/ckpt"
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    ev.filter(col("event_id") < 100).createOrReplaceTempView("rst_a")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM rst_a")
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def start() = spark.readStream.table(s"graft.`$root`")
      .select("event_id") // column pruning through the streaming scan
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.synchronized { batches += ((id, b.count())) }; ()
      }.start()
    val q1 = start()
    try {
      q1.processAllAvailable()
      ev.filter(col("event_id").between(100, 149)).createOrReplaceTempView("rst_b")
      spark.sql(s"INSERT INTO graft.`$root` SELECT * FROM rst_b")
      q1.processAllAvailable()
    } finally q1.stop()
    // an epoch lands while no query runs; restart resumes at the
    // checkpointed epoch offset and reads only the missed delta
    ev.filter(col("event_id").between(150, 169)).createOrReplaceTempView("rst_c")
    spark.sql(s"INSERT INTO graft.`$root` SELECT * FROM rst_c")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(batches.toSeq == Seq((0L, 100L), (1L, 50L), (2L, 20L)),
      s"snapshot + two deltas, never a re-read; got $batches")

    // a CoW rewrite breaks the append-only contract: the tail fails
    // fast instead of re-streaming carried rows
    spark.sql(s"DELETE FROM graft.`$root` WHERE event_id IN (7)")
    val q3 = start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q3.processAllAvailable() finally q3.stop()
    }
    assert(e.getMessage.contains("append-only") ||
      Option(e.getCause).exists(_.getMessage.contains("append-only")), e.getMessage)
  }

  test("DESCRIBE DETAIL and TIMESTAMP AS OF complete the audit surface") {
    ensureCatalog()
    val base = tmpDir("gcat_det_")
    val root = s"$base/t"
    Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
      .filter(col("event_id") < 100).createOrReplaceTempView("det_a")
    spark.sql(s"CREATE TABLE graft.`$root` PARTITIONED BY (bucket(4, user_id)) " +
      "AS SELECT * FROM det_a")
    val d = spark.sql(s"DESCRIBE DETAIL graft.`$root`").collect()(0)
    assert(d.getInt(1) == 1)
    assert(d.getInt(2) == ManifestSink.manifestFiles(spark, root, 1).size)
    assert(d.getLong(3) > 0L)
    assert(d.getLong(4) == 100L, s"committed __count rows: $d")
    // zone maps cover integral + string columns; `value` is a double
    assert(d.getString(5).split(",").toSet == Set("event_id", "user_id"))
    assert(d.getString(6) == "user_id:4")
    assert(d.getString(7) == "false")

    // TIMESTAMP AS OF: a timestamp after epoch 1 but before epoch 2
    // resolves to epoch 1 (marker creation time is the commit instant)
    val between = System.currentTimeMillis()
    Thread.sleep(1100) // fs mtime granularity is one second
    Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
      .filter(col("event_id").between(100, 119)).createOrReplaceTempView("det_b")
    spark.sql(s"INSERT INTO graft.`$root` SELECT * FROM det_b")
    val tsLit = new java.sql.Timestamp(between).toString
    val pinned = spark.sql(
      s"SELECT count(*) AS c FROM graft.`$root` TIMESTAMP AS OF '$tsLit'")
      .collect()(0).getLong(0)
    assert(pinned == 100L, s"timestamp travel must see epoch 1 only: $pinned")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root`")
      .collect()(0).getLong(0) == 120L)
    // a timestamp before any commit is refused
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$root` TIMESTAMP AS OF '2000-01-01 00:00:00'")
        .collect()
    }
  }

  test("writeStream.toTable commits one txn epoch per micro-batch; restart accumulates") {
    ensureCatalog()
    val base = tmpDir("gcat_wst_")
    val root = s"$base/t"
    val ckpt = s"$base/ckpt"
    spark.sql(s"CREATE TABLE graft.`$root` (event_id BIGINT, value DOUBLE)")
    val ev = Tables.events(spark, sf).select(col("event_id"), col("value"))

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    def start() = mem.toDF().toDF("event_id", "value")
      .writeStream.option("checkpointLocation", ckpt)
      .option("statsCols", "event_id")
      .toTable(s"graft.`$root`")

    val rows = ev.filter(col("event_id") < 60).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    mem.addData(rows.take(30).toSeq: _*)
    val q1 = start()
    try {
      q1.processAllAvailable()
      mem.addData(rows.slice(30, 50).toSeq: _*)
      q1.processAllAvailable()
    } finally q1.stop()
    assert(ManifestSink.currentEpoch(spark, root) == 2, "one epoch per batch")
    // txn bookkeeping carries the batch ids
    assert(ManifestSink.lastCommittedVersion(spark, root, s"graft-sink[$root]")
      .contains(1L))
    // restart from the checkpoint: new data lands, nothing replays
    mem.addData(rows.slice(50, 60).toSeq: _*)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(ManifestSink.currentEpoch(spark, root) == 3)
    val got = spark.sql(s"SELECT event_id FROM graft.`$root`")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == rows.map(_._1).sorted.toSeq, "no duplicates, no losses")
    // the streamed statsCols prune a range read
    val (_, hit, total) = ManifestSink.readPruned(spark, root, col("event_id").between(0L, 5L))
    assert(hit < total, s"streamed zone maps must prune: $hit of $total")
  }

  test("bucket layout prunes point lookups; crashed stream stages sweep on grace") {
    ensureCatalog()
    val base = tmpDir("gcat_bpt_")
    val root = s"$base/t"
    Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
      .filter(col("event_id") < 800).createOrReplaceTempView("bpt_a")
    spark.sql(s"CREATE TABLE graft.`$root` PARTITIONED BY (bucket(8, user_id)) " +
      "AS SELECT * FROM bpt_a")
    val total = ManifestSink.manifestFiles(spark, root, 1).size
    val bs = ManifestSink.bucketSpec(spark, root, 1).get
    val probe = Tables.events(spark, sf).agg(max(col("user_id")))
      .collect()(0).getLong(0) / 2
    val bucketFiles = bs.fileBuckets.values
      .count(_ == java.lang.Math.floorMod(probe, 8L).toInt)
    spark.sql(s"SELECT * FROM graft.`$root` WHERE user_id = $probe").collect()
    assert(GraftTable.lastPlannedFiles <= bucketFiles && bucketFiles < total,
      s"point lookup must plan only $probe's bucket: " +
        s"${GraftTable.lastPlannedFiles} vs bucket=$bucketFiles total=$total")

    // a crashed toTable batch leaves an un-renamed data-stream dir; the
    // grace-bounded sweep reclaims it, a generous grace protects it
    val crashed = new org.apache.hadoop.fs.Path(root, "data-stream-adeadbeef01")
    val fs = crashed.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(crashed)
    val out = fs.create(new org.apache.hadoop.fs.Path(crashed, "part-0.parquet"))
    out.write(1); out.close()
    ManifestSink.vacuum(spark, root, keep = 2, streamStageGraceMs = Long.MaxValue)
    assert(fs.exists(crashed), "a dir younger than the grace window must survive")
    ManifestSink.vacuum(spark, root, keep = 2, streamStageGraceMs = -1L)
    assert(!fs.exists(crashed), "past the grace window the crashed stage sweeps")
  }

  test("OPTIMIZE BUCKET BY re-buckets a plain table into the SPJ layout") {
    ensureCatalog()
    val base = tmpDir("gcat_rebkt_")
    val (r1, r2) = (s"$base/a", s"$base/b")
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    // r1 starts as a PLAIN (range-clustered) table; r2 is born bucketed
    ev.filter(col("event_id") < 500).createOrReplaceTempView("rebkt_a")
    ev.filter(col("event_id") < 300).createOrReplaceTempView("rebkt_b")
    spark.sql(s"CREATE TABLE graft.`$r1` AS SELECT * FROM rebkt_a")
    spark.sql(s"CREATE TABLE graft.`$r2` PARTITIONED BY (bucket(4, user_id)) " +
      "AS SELECT * FROM rebkt_b")
    assert(ManifestSink.bucketSpec(spark, r1, 1).isEmpty)
    val r = spark.sql(
      s"OPTIMIZE graft.`$r1` BUCKET BY (user_id) BUCKETS 4").collect()(0)
    assert(r.getInt(1) == 2)
    assert(ManifestSink.bucketSpec(spark, r1, 2).exists(_.numBuckets == 4))
    // content preserved
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$r1`")
      .collect()(0).getLong(0) == 500)
    // future inserts keep the layout (the sidecar was updated)
    ev.filter(col("event_id").between(500, 539)).createOrReplaceTempView("rebkt_c")
    spark.sql(s"INSERT INTO graft.`$r1` SELECT * FROM rebkt_c")
    assert(ManifestSink.bucketSpec(spark, r1, 3).isDefined)
    // and the re-bucketed table SPJ-joins the born-bucketed one
    withSpjConfs {
      val out = spark.sql(
        s"""SELECT a.user_id, count(*) AS pairs FROM graft.`$r1` a
           |JOIN graft.`$r2` b ON a.user_id = b.user_id
           |GROUP BY a.user_id""".stripMargin)
      out.collect()
      assert(shuffles(out).isEmpty,
        s"re-bucketed SPJ:\n${out.queryExecution.executedPlan}")
    }
  }

  test("timestamp zone maps: SQL time-range predicates prune the file list; meta-agg answers min/max ts") {
    ensureCatalog()
    val root = tmpDir("gcat_ts_") + "/t"
    Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"))
      .repartitionByRange(8, col("ts")).sortWithinPartitions("ts")
      .createOrReplaceTempView("ts_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM ts_src")
    val total = ManifestSink.manifestFiles(spark, root, 1).size
    assert(total > 1)
    val got = spark.sql(
      s"""SELECT count(*) AS c FROM graft.`$root`
         |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
         |  AND ts <  TIMESTAMP '2024-01-12 00:00:00'""".stripMargin)
      .collect()(0).getLong(0)
    // NOTE: count(*) under a residual filter refuses the meta-agg path,
    // so this is a real scan — planned-file evidence applies
    val planned = GraftTable.lastPlannedFiles
    assert(planned >= 1 && planned < total,
      s"ts range must prune: $planned of $total")
    val expect = Tables.events(spark, sf)
      .filter(col("ts") >= "2024-01-10" && col("ts") < "2024-01-12").count()
    assert(got == expect, s"pruning must stay advisory: $got vs $expect")
    // metadata-only min/max over the ts column
    val mm = spark.sql(s"SELECT min(ts) AS lo, max(ts) AS hi FROM graft.`$root`")
      .collect()(0)
    assert(GraftTable.lastMetaAggOnly, "global ts min/max answers from metadata")
    val real = Tables.events(spark, sf)
      .agg(min(col("ts")), max(col("ts"))).collect()(0)
    assert(mm.get(0) == real.get(0) && mm.get(1) == real.get(1),
      s"meta-agg ts bounds exact: $mm vs $real")
  }

  test("RESTORE VERSION AS OF re-pins a prior epoch as a new commit") {
    val root = mkTable("gcat_rstr_", n = 50)
    spark.sql(s"DELETE FROM graft.`$root` WHERE event_id IN (3, 4)")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root`")
      .collect()(0).getLong(0) == 48)
    val r = spark.sql(s"RESTORE graft.`$root` VERSION AS OF 1").collect()(0)
    assert(r.getInt(1) == 1 && r.getInt(2) == 3)
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root`")
      .collect()(0).getLong(0) == 50, "restore undoes the delete")
    // history preserved: the mistaken epoch is still pinned
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root` VERSION AS OF 2")
      .collect()(0).getLong(0) == 48)
  }

  test("CHECK constraints gate INSERT, MERGE, and DROP CONSTRAINT lifts the gate") {
    val root = mkTable("gcat_chk_", n = 50)
    spark.sql(s"ALTER TABLE graft.`$root` ADD CONSTRAINT ev_pos " +
      "CHECK (event_id >= 0)")
    spark.sql(s"ALTER TABLE graft.`$root` ADD CONSTRAINT val_bound " +
      "CHECK (value < 1000.0)")
    // reported back through the DSv2 constraint surface
    assert(new GraftCatalog { initialize("graft",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Collections.emptyMap())) }
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty, root)).constraints().map(_.name()).toSet ==
      Set("ev_pos", "val_bound"))
    // a valid insert passes
    spark.sql(s"INSERT INTO graft.`$root` " +
      "SELECT 900L AS event_id, 1L AS user_id, 1.5D AS value")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root`")
      .collect()(0).getLong(0) == 51)
    // a violating insert fails pre-commit: epoch unmoved, content intact
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$root` " +
        "SELECT -7L AS event_id, 1L AS user_id, 1.5D AS value")
    }
    assert((e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("ev_pos"), e.getMessage)
    // each ADD CONSTRAINT commits a carry epoch (VERDICT r14 #5):
    // CTAS=1, two ADDs=2..3, valid insert=4 — the violating insert
    // must leave it there
    assert(ManifestSink.currentEpoch(spark, root) == 4)
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root`")
      .collect()(0).getLong(0) == 51)
    // a violating MERGE fails too (replacement files audit)
    spark.sql("SELECT 5L AS event_id, 1L AS user_id, 5000.0D AS value")
      .createOrReplaceTempView("chk_src")
    intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$root` t USING chk_src s ON t.event_id = s.event_id
           |WHEN MATCHED THEN UPDATE SET t.value = s.value""".stripMargin)
    }
    assert(ManifestSink.currentEpoch(spark, root) == 4)
    // DROP CONSTRAINT lifts the gate (and itself versions the surface)
    spark.sql(s"ALTER TABLE graft.`$root` DROP CONSTRAINT ev_pos")
    spark.sql(s"INSERT INTO graft.`$root` " +
      "SELECT -7L AS event_id, 1L AS user_id, 1.5D AS value")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root`")
      .collect()(0).getLong(0) == 52)
  }

  test("HLL NDV sketches feed V2 column statistics; pruned subsets re-merge") {
    ensureCatalog()
    val root = tmpDir("gcat_hll_") + "/t"
    Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .filter(col("event_id") < 800)
      .repartitionByRange(8, col("event_id"))
      .sortWithinPartitions("event_id")
      .createOrReplaceTempView("hll_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM hll_src")
    def attrStats(q: String) = {
      val df = spark.sql(q)
      // read at the scan LEAF: attribute stats propagate above the
      // leaf only under spark.sql.cbo; the leaf's are the scan's own
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.stats.attributeStats
      }.head
    }
    // NDV is an ANALYZE-time artifact, never a per-write tax: before
    // ANALYZE the scan reports no column stats at all
    assert(attrStats(s"SELECT * FROM graft.`$root`").isEmpty)
    val r = spark.sql(
      s"ANALYZE TABLE graft.`$root` COMPUTE STATISTICS").collect()(0)
    assert(r.getInt(1) == 2, "ANALYZE commits a metadata epoch")
    val full = attrStats(s"SELECT * FROM graft.`$root`")
    assert(full.nonEmpty, "column stats must reach the logical plan")
    val byName = full.map { case (a, s) => a.name -> s }
    val ndvEv = byName("event_id").distinctCount.get.toLong
    assert(math.abs(ndvEv - 800L) <= 800 / 20,
      s"event_id ndv ~800 within hll error: $ndvEv")
    val truthUsers = Tables.events(spark, sf)
      .filter(col("event_id") < 800).select("user_id").distinct().count()
    val ndvU = byName("user_id").distinctCount.get.toLong
    assert(math.abs(ndvU - truthUsers) <= math.max(2, truthUsers / 10),
      s"user_id ndv ~$truthUsers: $ndvU")
    assert(byName("event_id").nullCount.get.toLong == 0L)
    // a pruned scan re-merges only the surviving files' sketches:
    // the range keeps ~1/4 of the rows, so the NDV must track it
    val pruned = attrStats(
      s"SELECT * FROM graft.`$root` WHERE event_id < 200")
      .map { case (a, s) => a.name -> s }
    val prunedNdv = pruned("event_id").distinctCount.get.toLong
    assert(prunedNdv < 300,
      s"subset ndv must come from the surviving files only: $prunedNdv")
  }

  test("@changes streams the change feed by table name: snapshot, CoW update pairs, exactly-once") {
    ensureCatalog()
    val base = tmpDir("gcat_cdf_")
    val root = s"$base/t"
    val ckpt = s"$base/ckpt"
    Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
      .filter(col("event_id") < 80)
      .repartitionByRange(4, col("event_id")).sortWithinPartitions("event_id")
      .createOrReplaceTempView("cdf_a")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM cdf_a")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Int)]
    def start() = spark.readStream
      .option("changeFeedKey", "event_id")
      .table(s"graft.`$root@changes`")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.select("_change_type", "event_id", "_commit_epoch").collect()
        seen.synchronized {
          seen ++= rows.map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
        }; ()
      }.start()
    val q1 = start()
    try {
      q1.processAllAvailable()
      // opening batch: snapshot-as-inserts
      assert(seen.count(_._1 == "insert") == 80, s"got ${seen.size}")
      // mid-stream CoW UPDATE arrives as an update pair, by name
      spark.sql(s"UPDATE graft.`$root` SET value = -1.0 WHERE event_id = 7")
      q1.processAllAvailable()
    } finally q1.stop()
    assert(seen.count(t => t._1 == "update_preimage" && t._2 == 7L) == 1)
    assert(seen.count(t => t._1 == "update_postimage" && t._2 == 7L) == 1)
    // an epoch lands while no query runs (a MoR delete); the restart
    // resumes from the checkpoint and emits ONLY the delete — no
    // snapshot replay, exactly-once end to end
    ManifestSink.deleteMor(spark, root,
      Tables.events(spark, sf).filter(col("event_id") === 3)
        .select(col("event_id")), "event_id")
    val before = seen.size
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val fresh = seen.drop(before)
    assert(fresh.toSet == Set(("delete", 3L, 3)),
      s"restart must emit exactly the missed MoR delete; got $fresh")
  }

  test("DELETE cost-routes to MoR: wide deletes commit a keys-only DV epoch, zero data writes") {
    ensureCatalog()
    val root = tmpDir("gcat_morroute_") + "/t"
    Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
      .filter(col("event_id") < 400)
      .repartitionByRange(8, col("event_id"))
      .sortWithinPartitions("event_id")
      .createOrReplaceTempView("morroute_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM morroute_src")
    val conf = spark.sparkContext.hadoopConfiguration
    def dataFileState(): Map[String, (Long, Long)] =
      ManifestSink.manifestFiles(spark, root, ManifestSink.currentEpoch(spark, root))
        .map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          val st = p.getFileSystem(conf).getFileStatus(p)
          f -> (st.getLen, st.getModificationTime)
        }.toMap
    val before = dataFileState()
    // keys spread across EVERY file's range: the CoW rewrite would
    // touch the whole manifest, so the router must choose MoR
    spark.sql(s"DELETE FROM graft.`$root` WHERE event_id IN " +
      (0 until 8).map(i => i * 50 + 1).mkString("(", ", ", ")"))
    val e = ManifestSink.currentEpoch(spark, root)
    assert(ManifestSink.commitDv(spark, root, e).isDefined,
      "a wide delete must commit as a DV epoch")
    assert(dataFileState() == before,
      "a MoR delete writes NO data file: lengths and mtimes untouched")
    assert(spark.sql(s"SELECT * FROM graft.`$root`").collect().length == 392)
    // a second delete extends the cumulative DV (even a narrow one)
    spark.sql(s"DELETE FROM graft.`$root` WHERE event_id = 2")
    assert(spark.sql(s"SELECT * FROM graft.`$root`").collect().length == 391)
    assert(dataFileState() == before, "the DV extension is metadata-only too")
    // a NARROW delete on a fresh table keeps the CoW path
    val root2 = tmpDir("gcat_cowroute_") + "/t"
    spark.sql(s"CREATE TABLE graft.`$root2` AS SELECT * FROM morroute_src")
    spark.sql(s"DELETE FROM graft.`$root2` WHERE event_id = 7")
    assert(ManifestSink.commitDv(spark, root2,
      ManifestSink.currentEpoch(spark, root2)).isEmpty,
      "a one-file delete must stay copy-on-write")
    assert(spark.sql(s"SELECT * FROM graft.`$root2`").collect().length == 399)
  }

  test("catalog scan applies a merge-on-read DV reader-side; travel spans DV generations") {
    ensureCatalog()
    val root = tmpDir("gcat_mor_") + "/t"
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
      .filter(col("event_id") < 60)
    ManifestSink.publish(
      ev.repartitionByRange(4, col("event_id")).sortWithinPartitions("event_id"),
      root, 1, ManifestSink.WriteSpec(Seq("event_id")))
    val all = ev.count()
    ManifestSink.deleteMor(spark, root,
      ev.filter(col("event_id") < 5).select(col("event_id")), "event_id")
    // plain SELECT stays live: vectored keys filtered in the reader —
    // including when the query PRUNES the key column away
    assert(spark.sql(s"SELECT * FROM graft.`$root` WHERE event_id < 10")
      .collect().map(_.getLong(0)).toSet == (5L until 10L).toSet)
    assert(GraftTable.lastDvApplied, "the DV filter must wrap the reader")
    assert(spark.sql(s"SELECT user_id FROM graft.`$root`").collect().length ==
      all - 5)
    // second deleteMor is cumulative; travel pins each DV generation
    ManifestSink.deleteMor(spark, root,
      ev.filter(col("event_id").between(5, 7)).select(col("event_id")), "event_id")
    assert(spark.sql(s"SELECT count(user_id) FROM graft.`$root`")
      .collect()(0).getLong(0) == all - 8)
    assert(spark.sql(s"SELECT * FROM graft.`$root` VERSION AS OF 2")
      .collect().length == all - 5)
    assert(spark.sql(s"SELECT * FROM graft.`$root` VERSION AS OF 1")
      .collect().length == all)
    // meta-agg still refuses (stats cannot see deletes): count(*) runs
    // as a real scan, not the metadata answer
    spark.sql(s"SELECT count(*) FROM graft.`$root`").collect()
    assert(!GraftTable.lastMetaAggOnly,
      "a DV epoch must never answer count(*) from metadata")
    // compaction materializes; parity with the DV-filtered view
    val pre = spark.sql(s"SELECT * FROM graft.`$root` ORDER BY event_id").collect()
    ManifestSink.compact(spark, root, Seq("event_id"))
    val post = spark.sql(s"SELECT * FROM graft.`$root` ORDER BY event_id").collect()
    assert(!GraftTable.lastDvApplied, "post-compaction scans carry no DV filter")
    assert(pre.toSeq == post.toSeq, "DV view and materialized view must agree")
  }

  test("UPDATE and MERGE run over a DV-carrying epoch: scan applies the vector, commit carries it") {
    ensureCatalog()
    val root = tmpDir("gcat_mordml_") + "/t"
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
      .filter(col("event_id") < 60)
    ManifestSink.publish(
      ev.repartitionByRange(4, col("event_id")).sortWithinPartitions("event_id"),
      root, 1, ManifestSink.WriteSpec(Seq("event_id")))
    val all = ev.count()
    // epoch 2: keys 0-4 hidden by a merge-on-read delete vector
    ManifestSink.deleteMor(spark, root,
      ev.filter(col("event_id") < 5).select(col("event_id")), "event_id")

    // epoch 3: UPDATE touches the range file that ALSO physically holds
    // the hidden keys — the row-level scan applies the DV, so the
    // rewrite materializes the deletes for that file instead of
    // resurrecting them (the DV-blind hazard)
    spark.sql(s"UPDATE graft.`$root` SET value = -1.0 WHERE event_id = 7")
    assert(spark.sql(s"SELECT * FROM graft.`$root`").count() == all - 5)
    assert(spark.sql(s"SELECT value FROM graft.`$root` WHERE event_id = 7")
      .collect()(0).getDouble(0) == -1.0)
    assert(spark.sql(s"SELECT * FROM graft.`$root` WHERE event_id < 5").count() == 0,
      "hidden keys must not resurrect through the rewrite")
    val e3 = ManifestSink.currentEpoch(spark, root)
    assert(ManifestSink.commitDv(spark, root, e3).isDefined,
      "the replace-groups epoch must carry the delete vector forward")
    spark.sql(s"SELECT user_id FROM graft.`$root`").collect()
    assert(GraftTable.lastDvApplied, "the carried DV must keep wrapping readers")
    // the replacement file is physically DV-clean (materialized): read
    // the epoch's ADDED files raw, without any DV filtering
    val added = ManifestSink.manifestFiles(spark, root, e3).toSet --
      ManifestSink.manifestFiles(spark, root, e3 - 1).toSet
    assert(added.nonEmpty)
    val raw = spark.read.parquet(added.toSeq: _*)
    assert(raw.filter(col("event_id") < 5).count() == 0,
      "rewritten files must not contain vectored keys")
    assert(raw.filter(col("event_id") === 7 && col("value") === -1.0).count() == 1)

    // the change feed across the UPDATE epoch: exactly one update pair,
    // and NO spurious deletes for the hidden rows the rewrite dropped
    // from the replaced file's bytes
    val feed = ManifestSink.tableChanges(spark, root, "event_id", e3 - 1, e3)
    assert(feed.filter(col("_change_type") === "delete").count() == 0,
      "a CoW rewrite over a standing DV emits no deletes")
    assert(feed.filter(col("_change_type").startsWith("update"))
      .select("event_id").collect().map(_.getLong(0)).toSeq == Seq(7L, 7L))

    // epoch 4: MERGE on the DV table — matched update + unmatched insert
    ev.filter(col("event_id") === 10)
      .unionByName(spark.range(1).select(lit(1000L).as("event_id"),
        lit(9L).as("user_id"), lit(2.5).as("value")))
      .createOrReplaceTempView("mor_dml_src")
    spark.sql(
      s"""MERGE INTO graft.`$root` t USING mor_dml_src s ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET t.value = s.value + 100.0
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql(s"SELECT * FROM graft.`$root`").count() == all - 5 + 1)
    assert(spark.sql(s"SELECT value FROM graft.`$root` WHERE event_id = 1000")
      .collect()(0).getDouble(0) == 2.5)
    assert(ManifestSink.commitDv(spark, root,
      ManifestSink.currentEpoch(spark, root)).isDefined)

    // compaction parity: the materialized table equals the DV view
    val pre = spark.sql(s"SELECT * FROM graft.`$root` ORDER BY event_id").collect()
    ManifestSink.compact(spark, root, Seq("event_id"))
    val post = spark.sql(s"SELECT * FROM graft.`$root` ORDER BY event_id").collect()
    assert(!GraftTable.lastDvApplied)
    assert(pre.toSeq == post.toSeq)
    // and the compaction epoch's feed is EMPTY — materializing the DV
    // is physical, not semantic (the visible-rows diff sees no change)
    val ec = ManifestSink.currentEpoch(spark, root)
    assert(ManifestSink.tableChanges(spark, root, "event_id", ec - 1, ec).count() == 0,
      "DV-materializing compaction must emit an empty change feed")
  }

  test("epoch-scoped DVs: a re-inserted key is visible; later deletes still reach it") {
    ensureCatalog()
    val root = tmpDir("gcat_dvscope_") + "/t"
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
      .filter(col("event_id") < 60)
    ManifestSink.publish(
      ev.repartitionByRange(4, col("event_id")).sortWithinPartitions("event_id"),
      root, 1, ManifestSink.WriteSpec(Seq("event_id")))
    val all = ev.count()
    // epoch 2: dv-2 hides keys 0-4 (scope: files committed before 2)
    ManifestSink.deleteMor(spark, root,
      ev.filter(col("event_id") < 5).select(col("event_id")), "event_id")
    // epoch 3: re-insert key 2 through SQL — the appended file's epoch
    // is ABOVE dv-2's scope, so the new row is visible (no
    // single-key-space contract; Iceberg sequence-number semantics)
    spark.sql(s"INSERT INTO graft.`$root` VALUES (2, 777, -7.0)")
    assert(spark.sql(s"SELECT * FROM graft.`$root`").count() == all - 5 + 1)
    val re = spark.sql(
      s"SELECT user_id, value FROM graft.`$root` WHERE event_id = 2").collect()
    assert(re.length == 1 && re(0).getLong(0) == 777L && re(0).getDouble(1) == -7.0,
      "exactly the re-inserted row is visible, never the old hidden one")
    // V1 read parity (the grouped anti-join path)
    assert(ManifestSink.read(spark, root).count() == all - 5 + 1)
    assert(ManifestSink.read(spark, root)
      .filter(col("event_id") === 2).collect()(0).getLong(1) == 777L)
    // epoch 4: a delete of a DIFFERENT key leaves the re-insert alone
    ManifestSink.deleteMor(spark, root,
      ev.filter(col("event_id") === 10).select(col("event_id")), "event_id")
    assert(spark.sql(s"SELECT * FROM graft.`$root` WHERE event_id = 2").count() == 1)
    // epoch 5: deleting key 2 AGAIN hides the re-inserted row too —
    // dv-5's scope covers the epoch-3 file
    ManifestSink.deleteMor(spark, root,
      spark.range(1).select(lit(2L).as("event_id")), "event_id")
    assert(spark.sql(s"SELECT * FROM graft.`$root` WHERE event_id = 2").count() == 0)
    assert(spark.sql(s"SELECT * FROM graft.`$root`").count() == all - 6)
    // travel sees each generation's exact visibility
    assert(spark.sql(s"SELECT * FROM graft.`$root` VERSION AS OF 3").count() == all - 4)
    assert(spark.sql(s"SELECT * FROM graft.`$root` VERSION AS OF 2").count() == all - 5)
    // the change feed: epoch 3 = one insert; epoch 5 = one delete whose
    // payload is the RE-INSERTED row (the visible one), not the old
    val f3 = ManifestSink.tableChanges(spark, root, "event_id", 2, 3).collect()
    assert(f3.length == 1 && f3(0).getAs[String]("_change_type") == "insert")
    val f5 = ManifestSink.tableChanges(spark, root, "event_id", 4, 5).collect()
    assert(f5.length == 1 && f5(0).getAs[String]("_change_type") == "delete" &&
      f5(0).getLong(1) == 777L, "the delete's payload is the visible (re-inserted) row")
    // compaction parity across the whole generation ladder
    val pre = spark.sql(s"SELECT * FROM graft.`$root` ORDER BY event_id, user_id").collect()
    ManifestSink.compact(spark, root, Seq("event_id"))
    val post = spark.sql(s"SELECT * FROM graft.`$root` ORDER BY event_id, user_id").collect()
    assert(pre.toSeq == post.toSeq)
  }

  test("CREATE OR REPLACE TABLE AS SELECT: one epoch CAS, travelable history, surface reset, abort-safe") {
    val root = mkTable("gcat_rtas_")
    spark.sql(s"ALTER TABLE graft.`$root` SET TBLPROPERTIES ('team' = 'iot')")
    spark.sql(s"ALTER TABLE graft.`$root` ADD CONSTRAINT pos CHECK (event_id >= 0)")
    val before = spark.sql(s"SELECT count(*) FROM graft.`$root`").collect()(0).getLong(0)
    // the REPLACE: new shape, new content — committed as epoch 2
    spark.sql(s"""CREATE OR REPLACE TABLE graft.`$root` AS
                 |SELECT event_id AS id, value * 2 AS dbl
                 |FROM cat_spec_src WHERE event_id < 50""".stripMargin)
    assert(spark.table(s"graft.`$root`").columns.toSeq == Seq("id", "dbl"))
    assert(spark.sql(s"SELECT count(*) FROM graft.`$root`").collect()(0).getLong(0) == 50)
    // pre-replace history is still travelable with the OLD shape
    // (unlike Delta's REPLACE, which drops it)
    val v1 = spark.sql(s"SELECT * FROM graft.`$root` VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("event_id", "user_id", "value"))
    assert(v1.count() == before)
    // the declared surface reset: the old CHECK no longer gates writes,
    // the old property is gone
    spark.sql(s"INSERT INTO graft.`$root` VALUES (-5, 1.0)")
    assert(spark.sql(s"SELECT count(*) FROM graft.`$root`").collect()(0).getLong(0) == 51)
    assert(!spark.sql(s"SHOW TBLPROPERTIES graft.`$root`").collect()
      .exists(_.getString(0) == "team"))
    // a FAILING replace aborts cleanly: the staged write throws, the
    // commit never happens, the table is untouched
    intercept[Throwable] {
      spark.sql(s"CREATE OR REPLACE TABLE graft.`$root` AS " +
        s"SELECT assert_true(id < 0) AS bad, id FROM graft.`$root`")
    }
    assert(spark.table(s"graft.`$root`").columns.toSeq == Seq("id", "dbl"))
    assert(spark.sql(s"SELECT count(*) FROM graft.`$root`").collect()(0).getLong(0) == 51)
    // REPLACE of a missing table refuses; CREATE OR REPLACE creates
    val fresh = tmpDir("gcat_rtas_fresh_") + "/t"
    intercept[Exception] {
      spark.sql(s"REPLACE TABLE graft.`$fresh` AS SELECT 1L AS x")
    }
    spark.sql(s"CREATE OR REPLACE TABLE graft.`$fresh` AS SELECT 1L AS x")
    assert(spark.sql(s"SELECT x FROM graft.`$fresh`").collect()(0).getLong(0) == 1L)
  }

  test("columnar reads survive the DV window when every pruned file is DV-exempt") {
    ensureCatalog()
    val root = tmpDir("gcat_dvcol_") + "/t"
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
      .filter(col("event_id") < 60)
    ManifestSink.publish(
      ev.repartitionByRange(4, col("event_id")).sortWithinPartitions("event_id"),
      root, 1, ManifestSink.WriteSpec(Seq("event_id", "user_id")))
    ManifestSink.deleteMor(spark, root,
      ev.filter(col("event_id") < 5).select(col("event_id")), "event_id")
    // epoch 3: a fresh (DV-exempt) file with distinctive key ranges
    spark.range(10).coalesce(1).select((col("id") + 100).as("event_id"),
      (col("id") + 1000).as("user_id"), lit(0.5).as("value"))
      .createOrReplaceTempView("dvcol_new")
    spark.sql(s"INSERT INTO graft.`$root` SELECT * FROM dvcol_new")
    def scansOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    // pruned to ONLY the exempt file: vectorized batches stay on, and
    // the appended-then-stripped DV key rides the columnar path
    val hot = spark.sql(
      s"SELECT value FROM graft.`$root` WHERE user_id >= 1000")
    assert(hot.collect().map(_.getDouble(0)).toSeq == Seq.fill(10)(0.5))
    assert(GraftTable.lastPlannedFiles == 1, "zone maps prune to the fresh file")
    assert(scansOf(hot).nonEmpty && scansOf(hot).forall(_.supportsColumnar),
      "a DV-exempt-only scan must keep columnar reads")
    // a scan touching pre-DV files needs the reader-side key filter:
    // row-based, and still correct
    val all = spark.sql(s"SELECT user_id FROM graft.`$root`")
    assert(all.count() == 55 + 10)
    assert(scansOf(all).forall(!_.supportsColumnar),
      "a filtering scan declines columnar batches")
  }

  test("a staged RTAS losing the epoch CAS to a concurrent INSERT fails without touching the table") {
    val root = mkTable("gcat_rtas_race_")
    val before = spark.sql(s"SELECT count(*) FROM graft.`$root`").collect()(0).getLong(0)
    // stage a replace against epoch 1 via the catalog API, but let an
    // INSERT win epoch 2 before the staged commit
    val cat = new GraftCatalog
    cat.initialize("graft", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Collections.emptyMap()))
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array.empty[String], root)
    val stagedTable = cat.stageCreateOrReplace(ident,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType))),
      Array.empty, new java.util.HashMap[String, String]())
    spark.sql(s"INSERT INTO graft.`$root` VALUES (9999, 9, 1.0)")
    intercept[ManifestSink.ManifestConflictException] {
      stagedTable.asInstanceOf[org.apache.spark.sql.connector.catalog.StagedTable]
        .commitStagedChanges()
    }
    // the loser changed NOTHING: old shape, old rows + the insert
    assert(spark.table(s"graft.`$root`").columns.toSeq ==
      Seq("event_id", "user_id", "value"))
    assert(spark.sql(s"SELECT count(*) FROM graft.`$root`")
      .collect()(0).getLong(0) == before + 1)
    assert(ManifestSink.currentEpoch(spark, root) == 2)
  }
}
