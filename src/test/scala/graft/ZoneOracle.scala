package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sink.ManifestSink

/** The re-read stats builders, kept as the test oracle for the
  * writer-side stats ([[graft.catalog.WriterStatsTracker]]): aggregates
  * grouped by `input_file_name()` over the given files, in the
  * [[ManifestSink.StatsSchema]] shape and the `statLongExpr` encoding.
  * A file with no row yields no group, so an empty file gets no row. */
object ZoneOracle {

  /** Zone maps: one stats row per (file, column) plus a `__count` row
    * per file, from one aggregate (one scan, one exchange). */
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

  /** Every stats flavor a [[ManifestSink.WriteSpec]] asks for, from ONE
    * aggregate grouped by `input_file_name()` over the given files:
    * zone min/max + `__count`, capped sorted `collect_set`
    * dictionaries, Catalyst-hashed blooms (`pmod(xxhash64(i, v), m)`)
    * and min/max of each layout transform's SQL expression. A layout
    * flavor that sees a multi-value file fails naming it, or — under
    * `lenientLayout` — contributes no rows. */
  def flavors(spark: SparkSession, root: String, relFiles: Seq[String],
              spec: ManifestSink.WriteSpec,
              lenientLayout: Boolean = false): Seq[org.apache.spark.sql.Row] = {
    import ManifestSink.{statLongExpr, statsRow, timeOrdCol, identKeyCol}
    val ManifestSink.WriteSpec(statsCols, dictCols, bloomCols, layout, dictCap) = spec
    val (bucketO, ptime, ident) = (layout.bucket, layout.ptime, layout.ident)
    val (bloomBits, bloomHashes) = (16384, 5)
    val df = spark.read.parquet(relFiles.map(r => s"$root/$r"): _*)
    val schema = df.schema
    statsCols.foreach(c => ManifestSink.requireZoneMapType(c, schema(c).dataType))
    val aggs = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Column]()
    aggs ++= statsCols.flatMap { c =>
      val e = statLongExpr(col(c), schema(c).dataType)
      Seq(min(e).as(s"__lo_$c"), max(e).as(s"__hi_$c"))
    }
    aggs += count(lit(1)).as("__cnt")
    aggs ++= dictCols.map { c =>
      schema(c).dataType match {
        case StringType | LongType | IntegerType | ShortType | ByteType => ()
        case other => throw new IllegalArgumentException(
          s"file dictionaries support integral and string columns; $c is $other")
      }
      // BOUNDED dict aggregate: at most dictCap+1 distinct values leave
      // the executors per file — enough to decide overflow (size > cap
      // ⟺ the capped slice has cap+1 elements) without ever shipping a
      // high-cardinality column's full distinct set to the driver (the
      // uncapped collect_set made every __dictover file's whole set
      // cross the wire just to be discarded — a driver OOM at 100 TB).
      slice(sort_array(collect_set(col(c))), 1, dictCap + 1).as(s"__d_$c")
    }
    aggs ++= bloomCols.flatMap { c =>
      val probe: org.apache.spark.sql.Column = schema(c).dataType match {
        case StringType => col(c)
        case LongType | IntegerType | ShortType | ByteType => col(c).cast(LongType)
        case other => throw new IllegalArgumentException(
          s"bloom filters support integral and string columns; $c is $other")
      }
      (0 until bloomHashes).map(i => collect_set(when(col(c).isNotNull,
        pmod(xxhash64(lit(i), probe), lit(bloomBits.toLong)).cast(IntegerType)))
        .as(s"__b${i}_$c"))
    }
    bucketO.foreach { case (k, n) =>
      val b = pmod(col(k).cast(LongType), lit(n.toLong)).cast(IntegerType)
      aggs += min(b).as("__blo"); aggs += max(b).as("__bhi")
    }
    ptime.foreach { case (c, u) =>
      val p = timeOrdCol(col(c), schema(c).dataType, u)
      aggs += min(p).as("__plo"); aggs += max(p).as("__phi")
    }
    ident.foreach { case (c, w) =>
      val k = identKeyCol(col(c), schema(c).dataType, w)
      aggs += min(k).as("__ilo"); aggs += max(k).as("__ihi")
    }
    val fusedAgg = df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail.toSeq: _*)
    val collected = fusedAgg.collect()
    val marker = new org.apache.hadoop.fs.Path(root).toUri.getPath.stripSuffix("/") + "/"
    def relOf(full: String): String = {
      val at = full.indexOf(marker)
      if (at >= 0) full.substring(at + marker.length)
      else full.split("/").takeRight(2).mkString("/")
    }
    // layout flavors validate up front, per flavor: strict callers get
    // the dedicated paths' exact require message naming the first
    // offending file; lenient callers drop just that flavor's rows
    def flavorClean(loCol: String, hiCol: String, what: String): Boolean = {
      collected.foreach { r =>
        val lo = r.getAs[Any](loCol); val hi = r.getAs[Any](hiCol)
        val single = lo != null && lo == hi
        if (!single) {
          if (lenientLayout) return false
          require(single, s"$what ${relOf(r.getAs[String]("__f"))}: $lo..$hi")
        }
      }
      true
    }
    val bucketClean = bucketO.isDefined && flavorClean("__blo", "__bhi",
      "bucketed stage produced a mixed-bucket file")
    val ptimeClean = ptime.isDefined && flavorClean("__plo", "__phi",
      "time-partitioned stage produced a mixed-ordinal file")
    val identClean = ident.isDefined && flavorClean("__ilo", "__ihi",
      "identity/truncate stage produced a mixed-value file")
    def asLong(v: Any): java.lang.Long = v match {
      case null => null
      case l: Long => java.lang.Long.valueOf(l)
      case i: Int => java.lang.Long.valueOf(i.toLong)
      case s: Short => java.lang.Long.valueOf(s.toLong)
      case b: Byte => java.lang.Long.valueOf(b.toLong)
      case other => throw new IllegalStateException(s"unexpected stat value $other")
    }
    val rows = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    collected.foreach { r =>
      val file = relOf(r.getAs[String]("__f"))
      statsCols.foreach { c =>
        val isStr = schema(c).dataType == StringType
        val lo = r.getAs[Any](s"__lo_$c"); val hi = r.getAs[Any](s"__hi_$c")
        rows += statsRow(file, c,
          if (isStr) null else asLong(lo), if (isStr) null else asLong(hi),
          if (isStr) lo else null, if (isStr) hi else null)
      }
      // __count rides the ZONE-MAP flavor: a layout-only stage (no
      // statsCols) grows none
      if (statsCols.nonEmpty)
        rows += statsRow(file, "__count",
          asLong(r.getAs[Any]("__cnt")), null, null, null)
      dictCols.foreach { c =>
        val isStr = schema(c).dataType == StringType
        val set = r.getAs[scala.collection.Seq[Any]](s"__d_$c")
        if (set.size > dictCap)
          rows += statsRow(file, s"__dictover:$c", null, null, null, null)
        else set.foreach { v =>
          rows += statsRow(file, s"__dict:$c",
            if (isStr) null else asLong(v), null,
            if (isStr) v.toString else null, null)
        }
      }
      bloomCols.foreach { c =>
        val bytes = new Array[Byte](bloomBits / 8)
        var any = false
        (0 until bloomHashes).foreach { i =>
          r.getAs[scala.collection.Seq[Int]](s"__b${i}_$c").foreach { p =>
            bytes(p / 8) = (bytes(p / 8) | (1 << (p % 8))).toByte
            any = true
          }
        }
        // a file whose bloom column is entirely null emits NO __bloom
        // row (the dedicated builder's exact output: explode+filter saw
        // zero positions for it) — the file is then KEPT on point
        // lookups, byte-identical stats either way
        if (any)
          rows += statsRow(file, s"__bloom:$c",
            bloomBits.toLong, bloomHashes.toLong,
            bytes.map("%02x".format(_)).mkString, null)
      }
      if (bucketClean) bucketO.foreach { case (k, n) =>
        val lo = r.getAs[Any]("__blo")
        rows += statsRow(file, s"__bucket:$k:$n",
          asLong(lo), asLong(lo), null, null)
      }
      if (ptimeClean) ptime.foreach { case (c, u) =>
        val lo = r.getAs[Any]("__plo")
        rows += statsRow(file, s"__ptime:$c:$u",
          asLong(lo), asLong(lo), null, null)
      }
      if (identClean) ident.foreach { case (c, w) =>
        val isStr = schema(c).dataType == StringType
        val lo = r.getAs[Any]("__ilo")
        val spec = w.fold(s"__ident:$c")(wd => s"__trunc:$c:$wd")
        rows += statsRow(file, spec,
          if (isStr) null else asLong(lo), if (isStr) null else asLong(lo),
          if (isStr) lo.toString else null, if (isStr) lo.toString else null)
      }
    }
    rows.toSeq
  }
}
