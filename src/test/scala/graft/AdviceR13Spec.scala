package graft

import org.apache.spark.sql.functions._

import graft.catalog.{GraftCatalog, GraftTable}
import graft.sink.ManifestSink

/** Regression pins for the round-13 ADVICE findings: the ADD
  * CONSTRAINT existing-data audit reading through the DV-scoped
  * logical-aliased path, the keyed-partition columnar decision judged
  * over the pushed-only survivor set, the RTAS sidecar-swap crash
  * recovery, sidecar JSON escaping for keys and control characters,
  * and the maintenance-lease heartbeat. */
class AdviceR13Spec extends SparkTestBase {
  import spark.implicits._

  private def ensureCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)

  test("ADD CONSTRAINT audits VISIBLE rows: MoR-deleted violations do not reject") {
    ensureCatalog()
    val root = tmpDir("adv13_chk_") + "/t"
    Seq((1L, 10L), (2L, -5L), (3L, 7L)).toDF("k", "x")
      .createOrReplaceTempView("adv13_chk_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM adv13_chk_src")
    // take down the violating key as a DV epoch (zero data writes)
    spark.conf.set("spark.graft.delete.mode", "mor")
    try spark.sql(s"DELETE FROM graft.`$root` WHERE k = 2")
    finally spark.conf.unset("spark.graft.delete.mode")
    // the constraint holds over every VISIBLE row — a raw (DV-blind)
    // audit would still see x = -5 and falsely reject (ADVICE r13)
    spark.sql(s"ALTER TABLE graft.`$root` ADD CONSTRAINT pos CHECK (x > 0)")
    // and a genuinely violating visible row still rejects
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root` ADD CONSTRAINT big CHECK (x > 100)")
    }
    assert(e.getMessage.contains("CHECK"), e.getMessage)
  }

  test("ADD CONSTRAINT on a renamed (column-mapped) table resolves logical names") {
    ensureCatalog()
    val root = tmpDir("adv13_chkmap_") + "/t"
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .createOrReplaceTempView("adv13_chkmap_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM adv13_chkmap_src")
    spark.sql(s"ALTER TABLE graft.`$root` RENAME COLUMN v TO w")
    // the audit must read under the LOGICAL name `w` (the files store
    // the physical `v`) — the raw-parquet audit threw an analysis error
    spark.sql(s"ALTER TABLE graft.`$root` ADD CONSTRAINT wpos CHECK (w > 0)")
    val ins = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$root` VALUES (3, -1)")
    }
    assert(ins.getMessage.contains("CHECK"), ins.getMessage)
  }

  test("bucketed DV scan judges columnar over the keyed (pushed-only) file set") {
    ensureCatalog()
    val root = tmpDir("adv13_col_") + "/t"
    (0L until 100L).map(i => (i, i * 10L)).toDF("k", "v")
      .createOrReplaceTempView("adv13_col_src")
    spark.sql(s"CREATE TABLE graft.`$root` PARTITIONED BY (bucket(4, k)) " +
      "AS SELECT * FROM adv13_col_src")
    spark.conf.set("spark.graft.delete.mode", "mor")
    try spark.sql(s"DELETE FROM graft.`$root` WHERE k = 5")
    finally spark.conf.unset("spark.graft.delete.mode")
    // appended files commit ABOVE the DV scope — they are DV-exempt
    spark.sql(s"INSERT INTO graft.`$root` SELECT id + 100, (id + 100) * 10 " +
      "FROM range(100)")
    // a dim matching only the appended keys: its runtime filter prunes
    // every DV-subject file from the SURVIVOR set, but the keyed
    // partitions (pushed-only pruning, structure pinned at planning)
    // still carry them — the scan must stay row-based so their reader
    // keeps filtering (ADVICE r13: the old survivor-set decision
    // flipped it columnar and deleted rows re-entered unfiltered)
    val dimPath = tmpDir("adv13_col_dim_")
    (150L until 160L).map(i => (i, "hit")).toDF("k", "flag")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("adv13_col_dim")
    val out = spark.sql(
      s"SELECT t.k, t.v FROM graft.`$root` t " +
        "JOIN adv13_col_dim d ON t.k = d.k ORDER BY t.k")
    assert(out.collect().length == 10)
    assert(GraftTable.lastDvApplied, "the DV filter must ride the scan")
    assert(!GraftTable.lastDvColumnar,
      "keyed partitions carry DV-subject files: the scan must be row-based")
    // full-scan correctness: the deleted key stays invisible
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root` WHERE k = 5")
      .head().getLong(0) == 0L)
    // and the intended optimization survives where partitions == the
    // survivor set: pruning to DV-EXEMPT files keeps columnar batches
    val root2 = tmpDir("adv13_col2_") + "/t"
    spark.sql(s"CREATE TABLE graft.`$root2` AS SELECT * FROM adv13_col_src")
    spark.conf.set("spark.graft.delete.mode", "mor")
    try spark.sql(s"DELETE FROM graft.`$root2` WHERE k = 5")
    finally spark.conf.unset("spark.graft.delete.mode")
    spark.sql(s"INSERT INTO graft.`$root2` SELECT id + 100, (id + 100) * 10 " +
      "FROM range(100)")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root2` WHERE k >= 100")
      .head().getLong(0) == 100L)
    assert(GraftTable.lastDvApplied && GraftTable.lastDvColumnar,
      "an all-exempt planned set keeps columnar reads")
  }

  test("a crashed RTAS sidecar swap is recovered at the next table load") {
    ensureCatalog()
    val root = tmpDir("adv13_rtas_") + "/t"
    Seq((1L, "a")).toDF("k", "v").createOrReplaceTempView("adv13_rtas_src")
    spark.sql(s"CREATE TABLE graft.`$root` TBLPROPERTIES ('keep'='old') " +
      "AS SELECT * FROM adv13_rtas_src")
    spark.sql(s"ALTER TABLE graft.`$root` ADD CONSTRAINT kpos CHECK (k > 0)")
    // simulate a REPLACE that won its commit CAS and died BEFORE the
    // sidecar swap: commit the new snapshot epoch directly, then plant
    // the write-ahead intent the real commit writes pre-CAS
    val df2 = Seq((7L, 70L)).toDF("id", "x")
    // the ADD CONSTRAINT above now commits its own carry epoch
    // (VERDICT r14 #5), so the simulated REPLACE lands on whatever
    // epoch follows the current one
    val e2 = ManifestSink.currentEpoch(spark, root) + 1
    ManifestSink.publish(df2, root, e2, ManifestSink.WriteSpec(Seq("id", "x")))
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markerIn = fs.open(new org.apache.hadoop.fs.Path(root, s"commit-$e2"))
    val marker = try scala.io.Source.fromInputStream(markerIn, "UTF-8")
      .getLines().toList finally markerIn.close()
    val token = marker.find(_.startsWith("token=")).get.stripPrefix("token=")
    val intent = s"epoch=$e2\ntoken=$token\nreplacing=true\n" +
      s"schema=${df2.schema.json}\nprop=fresh\tyes\n"
    val out = fs.create(new org.apache.hadoop.fs.Path(root,
      GraftTable.RtasIntentFile), true)
    out.write(intent.getBytes("UTF-8")); out.close()
    // the stale sidecars are still in place pre-recovery
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, GraftTable.ConstraintsFile)))
    // the next load finishes the swap: constraints/props reset to the
    // REPLACE's declared surface, the intent is consumed
    val t = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty, root))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, GraftTable.ConstraintsFile)),
      "the old CHECK constraints must not gate the replaced table")
    assert(t.properties().get("fresh") == "yes")
    assert(!t.properties().containsKey("keep"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, GraftTable.RtasIntentFile)))
    // an insert the OLD constraint would have rejected now lands
    spark.sql(s"INSERT INTO graft.`$root` VALUES (-1, 5)")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root`")
      .head().getLong(0) == 2L)
  }

  test("TBLPROPERTIES round-trip quotes in keys and newlines in values") {
    ensureCatalog()
    val root = tmpDir("adv13_props_") + "/t"
    Seq((1L, "a")).toDF("k", "v").createOrReplaceTempView("adv13_props_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM adv13_props_src")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    // write through the sidecar API (SQL literals cannot spell these)
    GraftTable.writeProps(spark, root, Map(
      "a\"b" -> "line1\nline2", "tab\tkey" -> "back\\slash\"quote"))
    val back = GraftTable.readProps(spark, root)
    assert(back == Map(
      "a\"b" -> "line1\nline2", "tab\tkey" -> "back\\slash\"quote"))
    // the table surface keeps working (the old escaping made every
    // later properties() read throw)
    val t = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
      Array.empty, root))
    assert(t.properties().get("a\"b") == "line1\nline2")
  }

  test("maintenance lease heartbeats: a long-running holder is never broken") {
    val root = tmpDir("adv13_lease_")
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val holder = new Thread(() => {
      ManifestSink.withMaintLease(spark, root, ttlMs = 2500L) {
        // run LONGER than the ttl: without the heartbeat the
        // challenger's stale-break would steal the lease mid-body
        Thread.sleep(6000L)
        results.add("holder-done")
      }
    })
    holder.start()
    Thread.sleep(4000L) // well past the 2.5 s ttl
    intercept[ManifestSink.MaintenanceLeaseException] {
      ManifestSink.withMaintLease(spark, root, ttlMs = 2500L) {
        results.add("challenger-ran")
      }
    }
    holder.join(20000L)
    assert(results.toArray.toSeq == Seq("holder-done"),
      s"heartbeat must keep the live holder's lease: $results")
    // after release the lease is free
    ManifestSink.withMaintLease(spark, root, ttlMs = 2500L) { results.add("after") }
    assert(results.contains("after"))
  }
}
