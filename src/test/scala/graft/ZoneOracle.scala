package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sink.ManifestSink

/** The re-read zone-map builder, kept as the test oracle for the
  * writer-side stats: one aggregate grouped by `input_file_name()` over
  * the given files (one scan, one exchange), fanned out into one stats
  * row per (file, column) plus a `__count` row per file, in the
  * [[ManifestSink.StatsSchema]] shape and the `statLongExpr` encoding.
  * A file with no row yields no group, so an empty file gets no row. */
object ZoneOracle {

  def rows(spark: SparkSession, root: String, relFiles: Seq[String],
           statsCols: Seq[String]): DataFrame = {
    val df = spark.read.parquet(relFiles.map(r => s"$root/$r"): _*)
    val schema = df.schema
    statsCols.foreach(c => ManifestSink.requireZoneMapType(c, schema(c).dataType))
    val aggs = statsCols.flatMap { c =>
      val e = ManifestSink.statLongExpr(col(c), schema(c).dataType)
      Seq(min(e).as(s"__lo_$c"), max(e).as(s"__hi_$c"))
    } :+ count(lit(1)).as("__cnt")
    val base = df.groupBy(input_file_name().as("__f")).agg(aggs.head, aggs.tail: _*)
    val noLong = lit(null).cast(LongType)
    val noStr = lit(null).cast(StringType)
    def entry(key: String, loL: Column, hiL: Column, loS: Column, hiS: Column) =
      struct(lit(key).as("col"), loL.as("lo_long"), hiL.as("hi_long"),
        loS.as("lo_str"), hiS.as("hi_str"))
    val entries = statsCols.map { c =>
      val (lo, hi) = (col(s"__lo_$c"), col(s"__hi_$c"))
      if (schema(c).dataType == StringType) entry(c, noLong, noLong, lo, hi)
      else entry(c, lo.cast(LongType), hi.cast(LongType), noStr, noStr)
    } :+ entry("__count", col("__cnt").cast(LongType), noLong, noStr, noStr)
    base.select(ManifestSink.relColUnder(root, col("__f")).as("file"),
      inline(array(entries: _*)))
  }
}
