package graft

import org.apache.spark.sql.functions._

import graft.catalog.GraftCatalog
import graft.sink.ManifestSink

/** WRITE-AUDIT-PUBLISH (Iceberg's `spark.wap.id` discipline): an
  * INSERT under `spark.graft.wap.id` stages its epoch without
  * publishing; `@wap:<id>` audits the staged increment; PUBLISH WAP
  * makes it visible in one CAS (rebasing through racing appends with
  * the live-INSERT ladder, re-auditing constraints per rebase);
  * DROP WAP discards to vacuum-sweepable debris. */
class WapSpec extends SparkTestBase {
  import spark.implicits._

  private def ensureCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)

  private def withWap[T](id: String)(body: => T): T = {
    spark.conf.set("spark.graft.wap.id", id)
    try body finally spark.conf.unset("spark.graft.wap.id")
  }

  test("stage is invisible, auditable via @wap, publish makes it one epoch") {
    ensureCatalog()
    val root = tmpDir("wap_a_") + "/t"
    (0 until 50).map(i => (i.toLong, i * 1.5)).toDF("k", "v")
      .createOrReplaceTempView("wap_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM wap_src")
    withWap("batch7") {
      spark.sql(s"INSERT INTO graft.`$root` SELECT k + 100, v FROM wap_src")
    }
    // nothing published: the table still reads epoch 1
    assert(spark.table(s"graft.`$root`").count() == 50L)
    assert(ManifestSink.currentEpoch(spark, root) == 1)
    // the ops view: bare @wap lists the pending stage
    val pending = spark.sql(s"SELECT wap_id, staged_epoch FROM graft.`$root@wap`")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(pending.toSeq == Seq(("batch7", 2)))
    // the audit leg: the staged INCREMENT is a queryable table
    val audit = spark.sql(s"SELECT count(*) AS c, min(k) AS lo " +
      s"FROM graft.`$root@wap:batch7`").collect()(0)
    assert(audit.getLong(0) == 50L && audit.getLong(1) == 100L)
    // audit JOINs against the live table compose
    val overlap = spark.sql(
      s"""SELECT count(*) AS c FROM graft.`$root@wap:batch7` w
         |JOIN graft.`$root` t ON w.k = t.k""".stripMargin)
      .collect()(0).getLong(0)
    assert(overlap == 0L)
    // publish: one epoch, all rows visible
    val pub = spark.sql(s"PUBLISH WAP batch7 ON graft.`$root`").collect()(0)
    assert(pub.getInt(2) == 2)
    assert(spark.table(s"graft.`$root`").count() == 100L)
    assert(spark.sql(s"SELECT * FROM graft.`$root@wap`").count() == 0L,
      "the publish consumes the pending listing")
    // the registry entry is consumed
    intercept[Exception] {
      spark.sql(s"PUBLISH WAP batch7 ON graft.`$root`").collect()
    }
  }

  test("publish rebases through a racing INSERT; constraint added mid-flight rejects") {
    ensureCatalog()
    val root = tmpDir("wap_r_") + "/t"
    (0 until 30).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
      .createOrReplaceTempView("wap_r_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM wap_r_src")
    withWap("race1") {
      spark.sql(s"INSERT INTO graft.`$root` SELECT k + 100, v FROM wap_r_src")
    }
    // a LIVE insert races past the stage: epoch 2 commits
    spark.sql(s"INSERT INTO graft.`$root` SELECT k + 200, v FROM wap_r_src")
    assert(ManifestSink.currentEpoch(spark, root) == 2)
    // publish rebases the staged files onto epoch 3 — data intact
    val pub = spark.sql(s"PUBLISH WAP race1 ON graft.`$root`").collect()(0)
    assert(pub.getInt(2) == 3)
    assert(spark.table(s"graft.`$root`").count() == 90L)

    // a constraint added between stage and publish must REJECT a
    // violating stage at publish time (the carry-epoch + rebase
    // re-audit discipline)
    withWap("race2") {
      spark.sql(s"INSERT INTO graft.`$root` SELECT k + 900, -5.0 FROM wap_r_src")
    }
    spark.sql(s"ALTER TABLE graft.`$root` ADD CONSTRAINT nonneg CHECK (v >= 0)")
    intercept[Exception] {
      spark.sql(s"PUBLISH WAP race2 ON graft.`$root`").collect()
    }
    // the rejected stage stays unpublished
    assert(spark.table(s"graft.`$root`").filter(col("v") < 0).count() == 0L)
  }

  test("cross-session WAP: a fresh session audits and publishes from the descriptor") {
    ensureCatalog()
    val root = tmpDir("wap_x_") + "/t"
    (0 until 40).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
      .createOrReplaceTempView("wap_x_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM wap_x_src")
    withWap("handoff") {
      spark.sql(s"INSERT INTO graft.`$root` SELECT k + 100, v FROM wap_x_src")
    }
    // simulate a NEW session: the staging session's registry is gone;
    // only the durable descriptor + staged files remain
    graft.catalog.GraftTable.pendingWap.clear()
    val audit = spark.sql(s"SELECT count(*) AS c FROM graft.`$root@wap:handoff`")
      .collect()(0).getLong(0)
    assert(audit == 40L, "audit must serve from the durable descriptor")
    val pub = spark.sql(s"PUBLISH WAP handoff ON graft.`$root`").collect()(0)
    assert(pub.getInt(2) == 2)
    assert(spark.table(s"graft.`$root`").count() == 80L)
    // zone maps survived the handoff: a range scan on the published
    // table still prunes files (stats committed with the publish)
    val (_, hit, all) = ManifestSink.readPruned(spark, root, col("k").between(0L, 5L))
    assert(hit < all, s"expected pruning on the published table: $hit/$all")
    // the descriptor is consumed with the publish
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$root@wap:handoff`").collect()
    }
    // drop-from-descriptor works the same way
    withWap("drop_x") {
      spark.sql(s"INSERT INTO graft.`$root` SELECT k + 900, v FROM wap_x_src")
    }
    graft.catalog.GraftTable.pendingWap.clear()
    spark.sql(s"DROP WAP drop_x ON graft.`$root`")
    intercept[Exception] {
      spark.sql(s"PUBLISH WAP drop_x ON graft.`$root`").collect()
    }
  }

  test("a pending stage is vacuum-exempt; publish stays idempotent after lost cleanup") {
    ensureCatalog()
    val root = tmpDir("wap_v_") + "/t"
    (0 until 25).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
      .createOrReplaceTempView("wap_v_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM wap_v_src")
    withWap("pend") {
      spark.sql(s"INSERT INTO graft.`$root` SELECT k + 100, v FROM wap_v_src")
    }
    // a live insert advances the table PAST the staged epoch, making
    // the stage's files orphan-shaped — but the _WAP descriptor keeps
    // them retention-exempt
    spark.sql(s"INSERT INTO graft.`$root` SELECT k + 200, v FROM wap_v_src")
    ManifestSink.vacuum(spark, root, keep = 2, orphanGraceMs = 0L)
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root@wap:pend`")
      .collect()(0).getLong(0) == 25L,
      "a pending WAP stage must survive vacuum")
    val pub = spark.sql(s"PUBLISH WAP pend ON graft.`$root`").collect()(0)
    assert(spark.table(s"graft.`$root`").count() == 75L)

    // idempotence: a crashed publish that lost only its descriptor
    // cleanup must NOT re-commit the files on retry (that would
    // duplicate every staged row through the rebase)
    val (staged, obs) = {
      spark.conf.set("spark.graft.wap.id", "idem")
      try spark.sql(s"INSERT INTO graft.`$root` SELECT k + 300, v FROM wap_v_src")
      finally spark.conf.unset("spark.graft.wap.id")
      graft.catalog.GraftTable.pendingWap((root, "idem"))
    }
    spark.sql(s"PUBLISH WAP idem ON graft.`$root`")
    assert(spark.table(s"graft.`$root`").count() == 100L)
    // simulate the lost cleanup: descriptor re-appears post-publish
    graft.catalog.GraftTable.writeWapDescriptor(spark, root, "idem", staged, obs)
    graft.catalog.GraftTable.pendingWap.remove((root, "idem"))
    val again = spark.sql(s"PUBLISH WAP idem ON graft.`$root`").collect()(0)
    assert(spark.table(s"graft.`$root`").count() == 100L,
      "an idempotent publish retry must not duplicate rows")
    assert(again.getInt(2) == ManifestSink.currentEpoch(spark, root))
  }

  test("a sidecar-only constraint (no epoch yet) still audits at publish") {
    ensureCatalog()
    val root = tmpDir("wap_c_") + "/t"
    spark.sql(s"CREATE TABLE graft.`$root` (k BIGINT, v DOUBLE) USING parquet")
    // a created-but-never-written table scans as EMPTY, not an error
    assert(spark.table(s"graft.`$root`").count() == 0L)
    withWap("early") {
      (0 until 10).map(i => (i.toLong, -1.0)).toDF("k", "v")
        .createOrReplaceTempView("wap_c_src")
      spark.sql(s"INSERT INTO graft.`$root` SELECT * FROM wap_c_src")
    }
    // the table has NO committed epoch, so ADD CONSTRAINT takes the
    // sidecar-only branch — no carry epoch, no commit conflict for
    // the publish to trip over
    spark.sql(s"ALTER TABLE graft.`$root` ADD CONSTRAINT pos CHECK (v >= 0)")
    intercept[Exception] {
      spark.sql(s"PUBLISH WAP early ON graft.`$root`").collect()
    }
    assert(ManifestSink.currentEpochOpt(spark, root).isEmpty,
      "the violating stage must not publish")
  }

  test("DROP WAP discards; vacuum sweeps the orphan stage") {
    ensureCatalog()
    val root = tmpDir("wap_d_") + "/t"
    (0 until 20).map(i => (i.toLong, i.toString)).toDF("k", "v")
      .createOrReplaceTempView("wap_d_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM wap_d_src")
    withWap("oops") {
      spark.sql(s"INSERT INTO graft.`$root` SELECT k + 50, v FROM wap_d_src")
    }
    spark.sql(s"DROP WAP oops ON graft.`$root`")
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$root@wap:oops`").collect()
    }
    // the staged dir is debris — but the orphan sweep is EPOCH-BOUNDED
    // (never claims dirs above the current epoch: an in-flight writer
    // necessarily stages there), so it survives until the table
    // advances past the staged epoch
    def orphans: Seq[String] = ManifestSink.orphanFiles(spark, root)
    assert(orphans.nonEmpty)
    ManifestSink.vacuum(spark, root, keep = 2, orphanGraceMs = 0L)
    assert(orphans.nonEmpty, "an above-current stage is never swept")
    spark.sql(s"INSERT INTO graft.`$root` SELECT k + 70, v FROM wap_d_src")
    assert(ManifestSink.currentEpoch(spark, root) == 2)
    ManifestSink.vacuum(spark, root, keep = 2, orphanGraceMs = 0L)
    assert(orphans.isEmpty, "a dropped WAP stage must vacuum away " +
      "once the table advances past its epoch")
    assert(spark.table(s"graft.`$root`").count() == 40L)
  }
}
