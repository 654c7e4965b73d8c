package graft

import org.apache.spark.sql.functions._

import graft.catalog.{GraftCatalog, GraftTable}
import graft.sink.{ColumnMapping, ManifestSink}

/** Column mapping (r12 VERDICT item 6): RENAME/DROP COLUMN as
  * metadata-only commits over immutable files, plus the round-13 DDL
  * completeness surface (TBLPROPERTIES, SHOW CREATE TABLE, TRUNCATE). */
class ColumnMappingSpec extends SparkTestBase {
  import spark.implicits._

  private def ensureCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)

  private def fileState(root: String): Map[String, (Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    ManifestSink.manifestFiles(spark, root,
      ManifestSink.currentEpoch(spark, root)).map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      f -> (st.getLen, st.getModificationTime)
    }.toMap
  }

  test("RENAME COLUMN is metadata-only; reads, skipping, and travel keep working") {
    ensureCatalog()
    val root = tmpDir("cmap_ren_") + "/t"
    (0 until 200).map(i => (i.toLong, s"u$i", i * 1.5)).toDF("k", "u", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .createOrReplaceTempView("cmap_ren_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM cmap_ren_src")
    val before = fileState(root)
    spark.sql(s"ALTER TABLE graft.`$root` RENAME COLUMN k TO key_id")
    assert(fileState(root) == before, "a rename must touch no data file")
    // reads under the new name; zone-map skipping still bites (stats
    // are keyed by the stable physical name)
    val out = spark.sql(
      s"SELECT key_id, u, v FROM graft.`$root` WHERE key_id BETWEEN 10 AND 20")
    assert(out.collect().map(_.getLong(0)).toSet == (10L to 20L).toSet)
    val total = ManifestSink.manifestEntries(spark, root,
      ManifestSink.currentEpoch(spark, root)).size
    assert(GraftTable.lastPlannedFiles >= 0 && GraftTable.lastPlannedFiles < total,
      s"skipping must survive the rename: ${GraftTable.lastPlannedFiles}/$total")
    // meta-agg answers under the new logical name
    val agg = spark.sql(
      s"SELECT count(*) AS c, min(key_id) AS lo, max(key_id) AS hi FROM graft.`$root`")
      .collect()(0)
    assert(GraftTable.lastMetaAggOnly, "meta-agg must survive the rename")
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) == (200L, 0L, 199L))
    // travel to the pre-rename epoch keeps the old shape
    assert(spark.sql(s"SELECT * FROM graft.`$root` VERSION AS OF 1")
      .schema.fieldNames.toSeq == Seq("k", "u", "v"))
    // appends (logical shape) land physical; reads stay logical
    spark.sql(s"INSERT INTO graft.`$root` VALUES (500, 'x', 9.0)")
    assert(spark.sql(s"SELECT key_id FROM graft.`$root` WHERE key_id = 500")
      .collect().length == 1)
    // CoW delete under the new name; files carry mapping forward
    spark.sql(s"DELETE FROM graft.`$root` WHERE key_id = 5")
    assert(spark.sql(s"SELECT count(u) AS c FROM graft.`$root`")
      .collect()(0).getLong(0) == 200L)
    assert(spark.sql(s"SELECT * FROM graft.`$root`").schema.fieldNames.toSeq ==
      Seq("key_id", "u", "v"), "mapping must survive the CoW rewrite")
    // the API read surface agrees
    assert(ManifestSink.read(spark, root).schema.fieldNames.toSeq ==
      Seq("key_id", "u", "v"))
    // and so does the format() read by root
    val viaFormat = spark.read.format("graft-manifest").option("root", root).load()
    assert(viaFormat.schema.fieldNames.toSeq == Seq("key_id", "u", "v"))
    assert(viaFormat.filter(col("key_id") === 500L).count() == 1L)
  }

  test("DROP COLUMN hides data without touching files; re-ADD never resurrects it") {
    ensureCatalog()
    val root = tmpDir("cmap_drop_") + "/t"
    (0 until 50).map(i => (i.toLong, s"secret$i", i * 1.0)).toDF("k", "s", "v")
      .createOrReplaceTempView("cmap_drop_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM cmap_drop_src")
    val before = fileState(root)
    spark.sql(s"ALTER TABLE graft.`$root` DROP COLUMN s")
    assert(fileState(root) == before, "a drop must leave files byte-identical")
    assert(spark.sql(s"SELECT * FROM graft.`$root`").schema.fieldNames.toSeq ==
      Seq("k", "v"))
    // travel still sees the old shape (and the data)
    assert(spark.sql(s"SELECT s FROM graft.`$root` VERSION AS OF 1 WHERE k = 1")
      .collect()(0).getString(0) == "secret1")
    // re-adding the NAME yields nulls — fresh physical name, old
    // column can never resurrect
    spark.sql(s"ALTER TABLE graft.`$root` ADD COLUMNS (s STRING)")
    val back = spark.sql(s"SELECT s FROM graft.`$root` WHERE k = 1").collect()
    assert(back.length == 1 && back(0).isNullAt(0),
      "a re-added name must NOT resurrect dropped data")
    // and writes to the re-added column land under the new physical
    spark.sql(s"INSERT INTO graft.`$root` VALUES (100, 5.0, 'fresh')")
    assert(spark.sql(s"SELECT s FROM graft.`$root` WHERE k = 100")
      .collect()(0).getString(0) == "fresh")
    val sch = ManifestSink.commitSchema(spark, root,
      ManifestSink.currentEpoch(spark, root)).get
    assert(ColumnMapping.physOf(sch)("s") != "s",
      "the re-added column must carry a fresh physical name")
  }

  test("mapped MoR: deleteMor + DV-aware scan + rename interleave correctly") {
    ensureCatalog()
    val root = tmpDir("cmap_mor_") + "/t"
    (0 until 100).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
      .createOrReplaceTempView("cmap_mor_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM cmap_mor_src")
    spark.sql(s"ALTER TABLE graft.`$root` RENAME COLUMN k TO id")
    // MoR delete under the LOGICAL name (DV keys store physical)
    ManifestSink.deleteMor(spark, root,
      Seq(3L, 5L).toDF("id"), "id")
    assert(spark.sql(s"SELECT count(v) AS c FROM graft.`$root`")
      .collect()(0).getLong(0) == 98L)
    assert(spark.sql(s"SELECT id FROM graft.`$root` WHERE id < 10")
      .collect().map(_.getLong(0)).toSet == Set(0L, 1L, 2L, 4L, 6L, 7L, 8L, 9L))
    // renaming AGAIN over a live DV still reads correctly
    spark.sql(s"ALTER TABLE graft.`$root` RENAME COLUMN id TO ident")
    assert(spark.sql(s"SELECT ident FROM graft.`$root` WHERE ident < 6")
      .collect().map(_.getLong(0)).toSet == Set(0L, 1L, 2L, 4L))
    // the change feed across the rename keeps ONE consistent shape
    // (toEpoch's logical names), including the MoR epoch's deletes
    val cur = ManifestSink.currentEpoch(spark, root)
    val feed = ManifestSink.tableChanges(spark, root, "ident", 0, cur)
    assert(feed.columns.take(2).toSeq == Seq("ident", "v"))
    val deletes = feed.filter(col("_change_type") === "delete")
      .collect().map(_.getLong(0)).toSet
    assert(deletes == Set(3L, 5L), s"got $deletes")
  }

  test("TBLPROPERTIES, SHOW CREATE TABLE, and TRUNCATE complete the DDL surface") {
    ensureCatalog()
    val root = tmpDir("cmap_ddl_") + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").createOrReplaceTempView("ddl_src")
    spark.sql(s"CREATE TABLE graft.`$root` TBLPROPERTIES ('team'='data', " +
      "'pii'='false') AS SELECT * FROM ddl_src")
    val props = spark.sql(s"SHOW TBLPROPERTIES graft.`$root`").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("team").contains("data") && props.get("pii").contains("false"))
    spark.sql(s"ALTER TABLE graft.`$root` SET TBLPROPERTIES ('pii'='true')")
    spark.sql(s"ALTER TABLE graft.`$root` UNSET TBLPROPERTIES ('team')")
    val props2 = spark.sql(s"SHOW TBLPROPERTIES graft.`$root`").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props2.get("pii").contains("true") && !props2.contains("team"))
    val ddl = spark.sql(s"SHOW CREATE TABLE graft.`$root`")
      .collect()(0).getString(0)
    assert(ddl.contains("CREATE TABLE") && ddl.contains("'pii' = 'true'"),
      s"got: $ddl")
    // TRUNCATE: metadata epoch, schema kept, travel intact
    spark.sql(s"TRUNCATE TABLE graft.`$root`")
    assert(spark.sql(s"SELECT * FROM graft.`$root`").collect().isEmpty)
    assert(spark.sql(s"SELECT count(*) FROM graft.`$root`")
      .collect()(0).getLong(0) == 0L)
    assert(spark.sql(s"SELECT * FROM graft.`$root` VERSION AS OF 1")
      .collect().length == 2, "pre-truncate epochs stay travelable")
    spark.sql(s"INSERT INTO graft.`$root` VALUES (3, 'c')")
    assert(spark.sql(s"SELECT v FROM graft.`$root`").collect()
      .map(_.getString(0)).toSeq == Seq("c"))
  }

  test("rename/drop guards: constraint-referenced, bucket-key, and DV-key columns are pinned") {
    ensureCatalog()
    val root = tmpDir("cmap_guard_") + "/t"
    (0 until 50).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
      .createOrReplaceTempView("cmap_guard_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM cmap_guard_src")
    spark.sql(s"ALTER TABLE graft.`$root` ADD CONSTRAINT vp CHECK (v >= 0)")
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root` RENAME COLUMN v TO w")
    }
    assert(chain(e1).exists(_.contains("constraint")), s"got: ${chain(e1)}")
    spark.sql(s"ALTER TABLE graft.`$root` DROP CONSTRAINT vp")
    spark.sql(s"ALTER TABLE graft.`$root` RENAME COLUMN v TO w") // now fine
    // live DV key cannot drop
    ManifestSink.deleteMor(spark, root, Seq(1L).toDF("k"), "k")
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root` DROP COLUMN k")
    }
    assert(chain(e2).exists(_.contains("delete-vector")), s"got: ${chain(e2)}")
    // bucket key cannot rename (SPJ layout is declared by that name)
    val root2 = tmpDir("cmap_guard2_") + "/t"
    spark.sql(s"CREATE TABLE graft.`$root2` PARTITIONED BY (bucket(4, k)) " +
      "AS SELECT * FROM cmap_guard_src")
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root2` RENAME COLUMN k TO kk")
    }
    assert(chain(e3).exists(_.contains("bucket")), s"got: ${chain(e3)}")
  }

  test("staged writes on a column-mapped table: WAP stages, audits " +
    "LOGICAL, and publishes; branch inserts stage and publish " +
    "(round 18 — the refusals are gone)") {
    ensureCatalog()
    val root = tmpDir("cmap_wap_") + "/t"
    (0 until 50).map(i => (i.toLong, i * 1.5)).toDF("k", "v")
      .createOrReplaceTempView("cmap_wap_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM cmap_wap_src")
    spark.sql(s"ALTER TABLE graft.`$root` RENAME COLUMN k TO key_id")
    // WAP: stage under the LOGICAL shape, audit, publish
    spark.conf.set("spark.graft.wap.id", "w1")
    try spark.sql(s"INSERT INTO graft.`$root` VALUES (100, 9.0), (101, 9.5)")
    finally spark.conf.unset("spark.graft.wap.id")
    assert(spark.table(s"graft.`$root`").count() == 50, "stage invisible")
    val audit = spark.table(s"graft.`$root@wap:w1`")
    assert(audit.schema.fieldNames.toSeq == Seq("key_id", "v"),
      s"the WAP audit speaks LOGICAL names, got ${audit.schema.simpleString}")
    assert(audit.count() == 2 &&
      audit.filter(col("key_id") === 100).count() == 1)
    spark.sql(s"PUBLISH WAP w1 ON graft.`$root`")
    assert(spark.table(s"graft.`$root`").count() == 52)
    assert(spark.sql(s"SELECT v FROM graft.`$root` WHERE key_id = 101")
      .collect()(0).getDouble(0) == 9.5)
    // BRANCH: two cumulative staged inserts, logical audit, publish
    spark.sql(s"CREATE BRANCH fix ON graft.`$root`")
    spark.conf.set("spark.graft.branch", "fix")
    try {
      spark.sql(s"INSERT INTO graft.`$root` VALUES (200, 1.0)")
      spark.sql(s"INSERT INTO graft.`$root` VALUES (201, 2.0)")
    } finally spark.conf.unset("spark.graft.branch")
    assert(spark.table(s"graft.`$root`").count() == 52, "branch invisible")
    val br = spark.table(s"graft.`$root@branch:fix`")
    assert(br.schema.fieldNames.toSeq == Seq("key_id", "v"))
    assert(br.count() == 2)
    spark.sql(s"PUBLISH BRANCH fix ON graft.`$root`")
    assert(spark.table(s"graft.`$root`").count() == 54)
    assert(spark.sql(s"SELECT v FROM graft.`$root` WHERE key_id = 201")
      .collect()(0).getDouble(0) == 2.0)
    // branch row-level DML stays refused on mapped tables (the DV /
    // branch-state machinery is physical-keyed)
    spark.sql(s"CREATE BRANCH d ON graft.`$root`")
    spark.conf.set("spark.graft.branch", "d")
    val eDel =
      try intercept[Exception] {
        spark.sql(s"DELETE FROM graft.`$root` WHERE key_id IN (1, 2)")
      } finally spark.conf.unset("spark.graft.branch")
    assert(eDel.getMessage.contains("column-mapped"), eDel.getMessage)
    spark.sql(s"DROP BRANCH d ON graft.`$root`")
  }
}
