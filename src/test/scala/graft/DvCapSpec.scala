package graft

import org.apache.spark.sql.functions._

import graft.catalog.GraftCatalog
import graft.sink.ManifestSink

/** VERDICT r13: the delete-vector key cap. The DSv2 read path collects
  * every live DV's keys onto the driver and ships them inside each
  * serialized reader factory — sound only while DVs are small. The cap
  * (`spark.graft.dv.maxKeys`) ENFORCES that contract at commit time:
  * deleteMor refuses an over-cap key set, and the SQL DELETE router
  * prices an over-cap delete as copy-on-write (bulk erasure pays the
  * rewrite, never an unbounded driver collect). */
class DvCapSpec extends SparkTestBase {
  import spark.implicits._

  private def ensureCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)

  test("deleteMor refuses a key set above spark.graft.dv.maxKeys, table unmoved") {
    val root = tmpDir("dvcap_") + "/t"
    ManifestSink.publish(
      (0L until 100L).map(i => (i, i * 2)).toDF("k", "v"), root, 1,
        ManifestSink.WriteSpec(Seq("k")))
    spark.conf.set("spark.graft.dv.maxKeys", "5")
    try {
      val e = intercept[IllegalArgumentException] {
        ManifestSink.deleteMor(spark, root,
          (0L until 10L).toDF("k"), "k")
      }
      assert(e.getMessage.contains("spark.graft.dv.maxKeys"), e.getMessage)
      assert(ManifestSink.currentEpoch(spark, root) == 1,
        "an over-cap attempt must not commit")
      assert(ManifestSink.read(spark, root).count() == 100L,
        "the table stays fully readable")
      // under the cap the MoR delete commits normally
      assert(ManifestSink.deleteMor(spark, root, (0L until 4L).toDF("k"), "k") == 2)
      assert(ManifestSink.read(spark, root).count() == 96L)
    } finally spark.conf.unset("spark.graft.dv.maxKeys")
  }

  test("SQL DELETE auto-routes an over-cap wide delete to copy-on-write") {
    ensureCatalog()
    val root = tmpDir("dvcap_sql_") + "/t"
    (0L until 100L).map(i => (i, i * 2)).toDF("k", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .createOrReplaceTempView("dvcap_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM dvcap_src")
    spark.conf.set("spark.graft.dv.maxKeys", "5")
    try {
      // 8 keys spread across every file: fraction-priced this is a
      // WIDE delete (MoR territory) — the cap overrides to CoW
      spark.sql(s"DELETE FROM graft.`$root` WHERE k IN " +
        "(1, 13, 26, 38, 51, 63, 76, 88)")
      val e = ManifestSink.currentEpoch(spark, root)
      assert(ManifestSink.commitDvs(spark, root, e).isEmpty,
        "an over-cap delete must not commit a delete vector")
      assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root`")
        .head().getLong(0) == 92L)
      // the same WIDTH under the cap still takes the zero-write MoR path
      spark.conf.set("spark.graft.dv.maxKeys", "100000")
      spark.sql(s"DELETE FROM graft.`$root` WHERE k IN " +
        "(2, 14, 27, 39, 52, 64, 77, 89)")
      val e2 = ManifestSink.currentEpoch(spark, root)
      assert(ManifestSink.commitDvs(spark, root, e2).nonEmpty,
        "an under-cap wide delete keeps the MoR route")
      assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root`")
        .head().getLong(0) == 84L)
    } finally spark.conf.unset("spark.graft.dv.maxKeys")
  }
}
