package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.catalog.{GraftCatalog, GraftTable}
import graft.sink.ManifestSink

/** `ManifestSink.readPruned` is an ordinary filtered read of the
  * catalog table: its evidence is the catalog scan's own selection,
  * it reads under the committed (logical) schema, and files without
  * stats for a column are kept — never silently skipped. */
class PrunedReadSpec extends SparkTestBase {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ensureCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("\u0000"))

  /** readPruned's hit against the files the equivalent SQL read plans;
    * both must return the same rows, and the skip must bite. */
  private def assertSameSelection(root: String, predicate: Column, where: String): Unit = {
    val (df, hit, total) = ManifestSink.readPruned(spark, root, predicate)
    val sqlRows = rows(spark.sql(s"SELECT * FROM graft.`$root` WHERE $where"))
    assert(hit == GraftTable.lastPlannedFiles,
      s"$where: readPruned selected $hit, the SQL scan planned ${GraftTable.lastPlannedFiles}")
    assert(hit >= 1 && hit < total, s"$where: pruning must bite: $hit/$total")
    assert(rows(df) == sqlRows && sqlRows.nonEmpty, s"$where: rows differ")
  }

  test("readPruned selects exactly the files the SQL scan plans: range, string, dict, bloom, bucket") {
    ensureCatalog()
    val base = (0 until 400).map(i => (i.toLong, (i % 37).toLong, s"s${i % 50}"))
      .toDF("k", "u", "s")
    // long range over range-clustered zone maps
    val range = tmpDir("pread_range_")
    ManifestSink.publish(
      base.repartitionByRange(8, col("k")).sortWithinPartitions("k"), range, 1,
        ManifestSink.WriteSpec(Seq("k")))
    assertSameSelection(range, col("k").between(100L, 149L), "k BETWEEN 100 AND 149")
    // string range whose bounds straddle the UTF-16 / UTF-8 order split
    val str = tmpDir("pread_str_")
    val emoji = "😀"
    val hiCap = "􏿿"
    ManifestSink.publish(Seq("a", "b").toDF("s").coalesce(1), str, 1,
      ManifestSink.WriteSpec(Seq("s")))
    ManifestSink.publish(Seq(emoji).toDF("s").coalesce(1), str, 2,
      ManifestSink.WriteSpec(Seq("s")), append = true)
    assertSameSelection(str, col("s").between("�", hiCap),
      s"s BETWEEN '�' AND '$hiCap'")
    // dictionary point on a hash layout the zone maps cannot prune
    val dict = tmpDir("pread_dict_")
    ManifestSink.publish(base.repartition(8, col("u")), dict, 1,
      ManifestSink.WriteSpec(statsCols = Seq("u"), dictCols = Seq("u")))
    assertSameSelection(dict, col("u") === 13L, "u = 13")
    // bloom point on the same kind of layout
    val bloom = tmpDir("pread_bloom_")
    ManifestSink.publish(base.repartition(8, col("u")), bloom, 1,
      ManifestSink.WriteSpec(statsCols = Seq("k"), bloomCols = Seq("k")))
    assertSameSelection(bloom, col("k") === 242L, "k = 242")
    // bucket point: the keyed (storage-partitioned) planner's selection
    val bucket = tmpDir("pread_bucket_")
    ManifestSink.publish(base, bucket, 1, ManifestSink.WriteSpec(Seq("k"),
      layout = ManifestSink.LayoutDecl(bucket = Some(("k", 4)))))
    assertSameSelection(bucket, col("k") === 7L, "k = 7")
  }

  test("readPruned reads under the committed schema: renamed columns prune, dropped ones are gone") {
    val root = tmpDir("pread_map_")
    ManifestSink.publish(
      (0 until 400).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      root, 1, ManifestSink.WriteSpec(Seq("k")))
    ManifestSink.renameColumn(spark, root, "k", "k2")
    val (renamed, hit, total) = ManifestSink.readPruned(spark, root, col("k2").between(100L, 149L))
    assert(hit >= 1 && hit < total, s"stats keyed by the physical name must still prune: $hit/$total")
    assert(renamed.schema.fieldNames.toSeq == Seq("k2", "v"))
    assert(rows(renamed) == (100 until 150).map(i => Seq(i.toLong, s"v$i")))
    ManifestSink.dropColumn(spark, root, "v")
    val (dropped, _, _) = ManifestSink.readPruned(spark, root, col("k2").between(100L, 149L))
    assert(dropped.schema.fieldNames.toSeq == Seq("k2"))
    assert(rows(dropped) == (100 until 150).map(i => Seq(i.toLong)))
  }

  test("files written before a column became a stats column are read and rewritten, never skipped") {
    ensureCatalog()
    def widened(tag: String): String = {
      val base = tmpDir(s"pread_widen_${tag}_")
      val root = s"$base/t"
      spark.sql(s"CREATE TABLE graft.`$root` (k BIGINT, v STRING)")
      def sink(statsCols: String, batch: Seq[(Long, String)], app: String): Unit = {
        val mem = MemoryStream[(Long, String)]
        mem.addData(batch: _*)
        val q = mem.toDF().toDF("k", "v").writeStream
          .option("checkpointLocation", s"$base/$app").option("appId", app)
          .option("statsCols", statsCols).toTable(s"graft.`$root`")
        try q.processAllAvailable() finally q.stop()
      }
      sink("k", Seq((1L, "a"), (2L, "b")), "narrow")
      sink("k,v", Seq((3L, "c"), (4L, "d")), "wide")
      root
    }
    def content(root: String): Seq[(Long, String)] =
      spark.sql(s"SELECT k, v FROM graft.`$root`").as[(Long, String)].collect().sorted.toSeq
    val root = widened("read")
    val (df, _, _) = ManifestSink.readPruned(spark, root, col("v").between("a", "z"))
    assert(df.as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    spark.sql(s"DELETE FROM graft.`$root` WHERE v IN ('a', 'd')")
    assert(content(root) == Seq((2L, "b"), (3L, "c")))
    // the copy-on-write rewrite itself must reach the older file
    val cow = widened("cow")
    spark.conf.set("spark.graft.delete.mode", "cow")
    try spark.sql(s"DELETE FROM graft.`$cow` WHERE v IN ('a', 'd')")
    finally spark.conf.unset("spark.graft.delete.mode")
    assert(content(cow) == Seq((2L, "b"), (3L, "c")))
  }
}
