package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.GraftCatalog
import graft.sink.ManifestSink

/** VERDICT r13 #4: `ALTER TABLE ... ALTER COLUMN ... TYPE` as safe
  * type WIDENING — a metadata-only commit (Delta type widening /
  * Iceberg promotion). Files keep their narrow encodings; Spark 4's
  * parquet widening promotions decode them straight into the wide
  * vectors. Committed long-normalized metadata (zone maps, dicts,
  * blooms, buckets) keeps pruning across mixed-type files. */
class WidenSpec extends SparkTestBase {
  import spark.implicits._

  private def ensureCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)

  test("int->long widening: metadata-only, mixed files read wide, pruning survives") {
    ensureCatalog()
    val root = tmpDir("widen_") + "/t"
    (0 until 100).map(i => (i, i.toString)).toDF("k", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .createOrReplaceTempView("widen_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM widen_src")
    assert(spark.table(s"graft.`$root`").schema("k").dataType == IntegerType)
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataState(): Map[String, (Long, Long)] =
      ManifestSink.manifestFiles(spark, root, ManifestSink.currentEpoch(spark, root))
        .map { f =>
          val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(f))
          f -> (st.getLen, st.getModificationTime)
        }.toMap
    val before = dataState()
    spark.sql(s"ALTER TABLE graft.`$root` ALTER COLUMN k TYPE BIGINT")
    // metadata-only: every data file byte-identical
    assert(dataState() == before, "widening must not touch data files")
    assert(spark.table(s"graft.`$root`").schema("k").dataType == LongType)
    // old (int32) files read under the wide schema
    assert(spark.sql(s"SELECT sum(k) AS s FROM graft.`$root`")
      .head().getLong(0) == 4950L)
    // post-widening inserts land as int64; the scan mixes both encodings
    spark.sql(s"INSERT INTO graft.`$root` SELECT id + 100, 'w' FROM range(100)")
    assert(spark.sql(s"SELECT count(*) AS c, sum(k) AS s FROM graft.`$root`")
      .head().getLong(1) == (0L until 200L).sum)
    // zone maps are long-normalized: a range read still prunes across
    // BOTH the pre- and post-widening files (bounds compared as longs)
    val (_, hit, all) = ManifestSink.readPruned(spark, root, col("k").between(150L, 160L))
    assert(hit < all, s"pruning must survive the widening: $hit of $all")
    val (df2, hit2, _) = ManifestSink.readPruned(spark, root, col("k").between(10L, 20L))
    assert(hit2 < all && df2.filter(col("k").between(10, 20)).count() == 11L)
    // travel keeps the narrow shape
    assert(spark.sql(s"SELECT * FROM graft.`$root` VERSION AS OF 1")
      .schema("k").dataType == IntegerType)
  }

  test("float->double and decimal growth widen; refusal ladder holds") {
    ensureCatalog()
    val root = tmpDir("widen_fd_") + "/t"
    (0 until 50).map(i => (i.toLong, i.toFloat, BigDecimal(i).setScale(2)))
      .toDF("k", "f", "d")
      .withColumn("d", col("d").cast(DecimalType(10, 2)))
      .createOrReplaceTempView("widen_fd_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM widen_fd_src")
    spark.sql(s"ALTER TABLE graft.`$root` ALTER COLUMN f TYPE DOUBLE")
    spark.sql(s"ALTER TABLE graft.`$root` ALTER COLUMN d TYPE DECIMAL(20, 4)")
    val sch = spark.table(s"graft.`$root`").schema
    assert(sch("f").dataType == DoubleType)
    assert(sch("d").dataType == DecimalType(20, 4))
    assert(spark.sql(s"SELECT sum(f) AS s FROM graft.`$root`")
      .head().getDouble(0) == 1225.0)
    assert(spark.sql(s"SELECT sum(d) AS s FROM graft.`$root`")
      .head().getDecimal(0).longValue() == 1225L)
    // refusal ladder. Narrowings and lossy decimal changes die in
    // Spark's own analyzer (Cast.canUpCast gates AlterColumns before
    // the catalog sees them); numeric -> string IS a Spark up-cast,
    // so the catalog's own widening contract must refuse it.
    Seq(
      s"ALTER TABLE graft.`$root` ALTER COLUMN k TYPE INT",      // narrow
      s"ALTER TABLE graft.`$root` ALTER COLUMN f TYPE FLOAT",    // narrow back
      s"ALTER TABLE graft.`$root` ALTER COLUMN d TYPE DECIMAL(10, 1)", // scale loss
      s"ALTER TABLE graft.`$root` ALTER COLUMN k TYPE STRING"    // migration
    ).foreach { sql =>
      val e = intercept[Exception](spark.sql(sql))
      val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("widening") || msg.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
        s"$sql must refuse: ${e.getMessage.take(200)}")
    }
    // the refused statements changed nothing
    val after = spark.table(s"graft.`$root`").schema
    assert(after("k").dataType == LongType &&
      after("f").dataType == DoubleType &&
      after("d").dataType == DecimalType(20, 4))
  }

  test("widening drops the column's HLL sketches; ANALYZE recreates them wide") {
    ensureCatalog()
    val root = tmpDir("widen_hll_") + "/t"
    (0 until 100).map(i => (i, i % 10)).toDF("k", "g")
      .createOrReplaceTempView("widen_hll_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM widen_hll_src")
    spark.sql(s"ANALYZE TABLE graft.`$root` COMPUTE STATISTICS")
    def hllRows(colName: String): Int = {
      val e = ManifestSink.currentEpoch(spark, root)
      ManifestSink.statsTable(spark, root, e)
        .filter(col("col") === s"__hll:$colName").count().toInt
    }
    assert(hllRows("k") > 0, "ANALYZE must commit sketches")
    spark.sql(s"ALTER TABLE graft.`$root` ALTER COLUMN k TYPE BIGINT")
    assert(hllRows("k") == 0,
      "pre-widening int sketches cannot union with long ones: dropped")
    assert(hllRows("g") > 0, "other columns' sketches carry")
    spark.sql(s"ANALYZE TABLE graft.`$root` COMPUTE STATISTICS")
    assert(hllRows("k") > 0, "ANALYZE recreates the sketches in the wide type")
  }
}
