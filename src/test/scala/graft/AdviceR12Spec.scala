package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.connector.catalog.Identifier

import graft.catalog.GraftCatalog
import graft.sink.ManifestSink

/** Regression pins for the round-12 ADVICE findings: the vacuumed
  * stream-stage commit race, dropTable's non-table guard, NTZ zone-map
  * timezone independence, the parser's DESCRIBE fall-through, and ADD
  * CONSTRAINT's existing-data audit. */
class AdviceR12Spec extends SparkTestBase {
  import spark.implicits._

  private def ensureCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)

  test("a vanished stream stage dir fails the epoch commit loudly, never an empty epoch") {
    val root = tmpDir("adv_stage_")
    ManifestSink.publish(Seq((1L, "a")).toDF("k", "v"), root, 1)
    // the stage dir a concurrent vacuum already swept: committing would
    // publish an EMPTY epoch while the checkpoint advances — the silent
    // batch loss the loud failure exists to prevent
    val e = intercept[IllegalStateException] {
      ManifestSink.commitIdempotentAppendFiles(spark, root,
        "data-stream-a0123456789ab", "appX", 0L)
    }
    assert(e.getMessage.contains("vanished"), e.getMessage)
    assert(ManifestSink.currentEpoch(spark, root) == 1,
      "no epoch may commit for a lost stage")
    // a genuine replay (version already committed) still no-ops even
    // with the stage dir absent — the two cases stay distinguishable
    val stage = new org.apache.hadoop.fs.Path(root, "data-stream-afeedfeedfeed")
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(stage)
    Seq((2L, "b")).toDF("k", "v").coalesce(1).write.mode("overwrite")
      .parquet(stage.toString)
    assert(ManifestSink.commitIdempotentAppendFiles(spark, root,
      stage.getName, "appY", 7L))
    assert(!ManifestSink.commitIdempotentAppendFiles(spark, root,
      "data-stream-agone00000000", "appY", 7L),
      "a committed (appId, version) replays as a clean no-op")
  }

  test("dropTable refuses to delete a directory that is not a graft table") {
    ensureCatalog()
    val dir = tmpDir("adv_drop_")
    val p = new org.apache.hadoop.fs.Path(dir, "precious.txt")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p); out.write(42); out.close()
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    assert(!cat.dropTable(Identifier.of(Array.empty, dir)),
      "dropping a non-table path must be a refused no-op")
    assert(fs.exists(p), "the non-table directory must survive intact")
    // a real table still drops
    val troot = tmpDir("adv_drop_t_") + "/t"
    ManifestSink.publish(Seq((1L, "a")).toDF("k", "v"), troot, 1)
    assert(cat.dropTable(Identifier.of(Array.empty, troot)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(troot)))
  }

  test("NTZ zone maps are timezone-independent: non-UTC sessions prune without row loss") {
    val prior = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val root = tmpDir("adv_ntz_")
      val rows = (0 until 96).map { h =>
        (h.toLong, java.time.LocalDateTime.of(2024, 3, 1, 0, 0).plusHours(h))
      }
      val df = rows.toDF("id", "t")
      assert(df.schema("t").dataType ==
        org.apache.spark.sql.types.TimestampNTZType)
      ManifestSink.publish(
        df.repartitionByRange(4, col("t")).sortWithinPartitions("t"),
        root, 1, ManifestSink.WriteSpec(Seq("t")))
      // committed bounds must be the NTZ internal micros VERBATIM
      val utc = java.time.ZoneOffset.UTC
      def micros(h: Int): Long = java.time.LocalDateTime.of(2024, 3, 1, 0, 0)
        .plusHours(h).toInstant(utc).toEpochMilli * 1000L
      val stats = ManifestSink.statsTable(spark, root, 1)
        .filter(col("col") === "t").collect()
      assert(stats.map(_.getLong(2)).min == micros(0),
        "lo bound must equal the unshifted NTZ micros")
      assert(stats.map(_.getLong(3)).max == micros(95),
        "hi bound must equal the unshifted NTZ micros")
      // boundary range prune: complete rows AND genuine skipping
      val lo = java.time.LocalDateTime.of(2024, 3, 1, 0, 0).plusHours(40)
      val hi = java.time.LocalDateTime.of(2024, 3, 1, 0, 0).plusHours(60)
      val (pruned, sel, tot) =
        ManifestSink.readPruned(spark, root, col("t") >= lit(lo) && col("t") <= lit(hi))
      assert(pruned.filter(col("t") >= lit(lo) && col("t") <= lit(hi))
        .count() == 21, "no boundary row may be lost to a tz shift")
      assert(sel < tot, s"pruning must bite: $sel/$tot")
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("DESCRIBE on ordinary tables named history/detail/changes falls through to Spark") {
    Seq((1, "x")).toDF("a", "b").createOrReplaceTempView("history")
    Seq((2, "y")).toDF("a", "b").createOrReplaceTempView("detail")
    // pre-fix these raised malformed-maintenance; now the delegate
    // parser handles them as plain DESCRIBE TABLE statements
    assert(spark.sql("DESCRIBE history").collect().map(_.getString(0))
      .contains("a"))
    assert(spark.sql("DESCRIBE detail").collect().nonEmpty)
    // graft-shaped malformed statements still fail fast with the
    // maintenance grammar message
    val e = intercept[Exception] {
      spark.sql("DESCRIBE HISTORY graft.`/nope` TRAILING JUNK")
    }
    assert(e.getMessage.contains("maintenance"), e.getMessage)
  }

  test("ADD CONSTRAINT audits existing committed data before reporting VALID") {
    ensureCatalog()
    val root = tmpDir("adv_ck_") + "/t"
    Seq((1L, 5.0), (2L, -3.0)).toDF("k", "v").createOrReplaceTempView("adv_ck_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM adv_ck_src")
    // existing rows violate: the ADD must be rejected, sidecar unchanged
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root` ADD CONSTRAINT pos CHECK (v > 0)")
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("CHECK")), s"got: ${chain(e)}")
    assert(spark.sql(s"SELECT * FROM graft.`$root`").collect().length == 2,
      "a rejected ADD CONSTRAINT must not disturb the table")
    // a constraint the current data satisfies adds cleanly and then
    // gates inserts — VALID is true by construction
    spark.sql(s"ALTER TABLE graft.`$root` ADD CONSTRAINT big CHECK (v > -10)")
    val e2 = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$root` VALUES (3, -99.0)")
    }
    assert(chain(e2).exists(_.contains("big")), s"got: ${chain(e2)}")
  }
}
