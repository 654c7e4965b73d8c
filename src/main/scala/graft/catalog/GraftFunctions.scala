package graft.catalog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types._

/** The catalog's `bucket(n, col)` partition-transform function — the
  * DataSource V2 function identity that makes STORAGE-PARTITIONED
  * JOINS plan (the Iceberg SPJ discipline): when two catalog scans
  * both report `KeyGroupedPartitioning(bucket(n, key))`, Spark
  * resolves `bucket` through the table's
  * [[org.apache.spark.sql.connector.catalog.FunctionCatalog]] and
  * compares the bound functions' `canonicalName` — equal names with
  * equal arguments mean the sides are co-partitioned, and
  * `EnsureRequirements` drops BOTH shuffles from the join.
  *
  * The function is `floorMod(key, n)` — kept in exact agreement with
  * the write-side placement: every laid-out write clusters by this
  * very function and evaluates it per row ([[BucketAxis]]), so a
  * declared transform can never differ from the physical layout (a
  * difference would make SPJ silently join wrong partitions together).
  *
  * Reference: the reference co-locates rows by Cassandra partition
  * key (`PRIMARY KEY ((device_id), timestamp)` —
  * `cassandra/init.cql:25`); this is the Spark-native contract that
  * makes such co-location visible to the JOIN PLANNER rather than
  * just to the storage layer. */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, col): floorMod(col, numBuckets) — the graft bucketed-layout transform"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket takes (numBuckets, key); got ${inputType.simpleString}")
    inputType.fields(1).dataType match {
      case kt @ (LongType | IntegerType | ShortType | ByteType) =>
        new GraftBucketBound(kt)
      case other => throw new UnsupportedOperationException(
        s"graft bucket keys are integral; got $other")
    }
  }
}

/** Bound form: one canonical name regardless of the key's integral
  * width, so an int-keyed side co-partitions with a long-keyed one
  * (both sides widen to long before the mod, exactly as the layout
  * does). */
final class GraftBucketBound(keyType: DataType) extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.bucket"
  override def produceResult(input: InternalRow): Integer = {
    if (input.isNullAt(1)) return null
    val n = input.getInt(0)
    val k = keyType match {
      case LongType => input.getLong(1)
      case IntegerType => input.getInt(1).toLong
      case ShortType => input.getShort(1).toLong
      case ByteType => input.getByte(1).toLong
    }
    java.lang.Math.floorMod(k, n.toLong).toInt
  }
}

/** The catalog's time partition-transform functions — `hours(ts)`,
  * `days(ts)`, `months(ts)`, `years(ts)` (the public Iceberg
  * transform spec: hours/days as floor division of the epoch
  * micros, months as `(year-1970)*12 + month-1`, years as
  * `year-1970`). Serving these from the table catalog's
  * FunctionCatalog is what lets a scan report
  * `KeyGroupedPartitioning(hours(ts))` and two same-layout tables
  * storage-partition-join with zero shuffle. The write-side placement
  * evaluates this very function ([[TimeAxis]]) — a declared transform
  * that differed from the physical layout would make SPJ silently
  * join wrong partitions. NTZ evaluates its internal (unshifted) micros;
  * TimestampType evaluates under UTC, matching the engine's pinned
  * `spark.sql.session.timeZone`. */
final class GraftTimeFunction(unit: String) extends UnboundFunction {
  override def name(): String = unit
  override def description(): String =
    s"$unit(col): time-partition ordinal (Iceberg transform semantics)"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1,
      s"$unit takes one timestamp/date column; got ${inputType.simpleString}")
    inputType.fields(0).dataType match {
      case dt @ (TimestampType | TimestampNTZType | DateType) =>
        new GraftTimeBound(unit, dt)
      case other => throw new UnsupportedOperationException(
        s"graft $unit partitions timestamps/dates; got $other")
    }
  }
}

/** The catalog's `truncate(w, col)` partition-transform function —
  * the Iceberg truncate spec, served from the FunctionCatalog so two
  * truncate-laid-out scans storage-partition-join: integers floor to
  * the width's multiple (`v - floorMod(v, w)`, exact for negatives),
  * strings take the first `w` characters. The write-side placement
  * evaluates the same arithmetic through its single-argument form
  * ([[GraftTruncFixedBound]], via [[IdentAxis]]).
  * Identity needs no function here — Spark resolves identity
  * transforms natively. */
object GraftTruncFunction extends UnboundFunction {
  override def name(): String = "truncate"
  override def description(): String =
    "truncate(width, col): Iceberg truncate transform — integers floor " +
      "to the width's multiple, strings take the first width chars"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"truncate takes (width, col); got ${inputType.simpleString}")
    inputType.fields(1).dataType match {
      case kt @ (LongType | IntegerType | ShortType | ByteType | StringType) =>
        new GraftTruncBound(kt)
      case other => throw new UnsupportedOperationException(
        s"graft truncate keys are integral or string; got $other")
    }
  }
}

/** Bound form: one canonical name; integral widths all evaluate in
  * long (matching the write-side layout), strings in UTF8String
  * prefix form. */
final class GraftTruncBound(keyType: DataType) extends ScalarFunction[Any] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
  override def resultType(): DataType =
    if (keyType == StringType) StringType else LongType
  override def name(): String = "truncate"
  override def canonicalName(): String = "graft.truncate"
  override def produceResult(input: InternalRow): Any = {
    if (input.isNullAt(1)) return null
    val w = input.getInt(0)
    // same refusal as the write-side layout: a zero/negative width
    // would otherwise surface as a per-row ArithmeticException
    // (floorMod by zero) at execution time
    require(w > 0, s"truncate width must be positive; got $w")
    keyType match {
      case StringType =>
        val s = input.getUTF8String(1)
        if (s.numChars() <= w) s else s.substring(0, w)
      case LongType => val v = input.getLong(1); v - Math.floorMod(v, w.toLong)
      case IntegerType =>
        val v = input.getInt(1).toLong; v - Math.floorMod(v, w.toLong)
      case ShortType =>
        val v = input.getShort(1).toLong; v - Math.floorMod(v, w.toLong)
      case ByteType =>
        val v = input.getByte(1).toLong; v - Math.floorMod(v, w.toLong)
    }
  }
}

/** Width-parameterized SINGLE-ARGUMENT form of the truncate transform
  * — `truncate<w>(col)` (e.g. `truncate4`). Spark's
  * `KeyGroupedPartitioning.supportsExpressions` only admits transforms
  * with ONE reference child, so the two-argument `truncate(w, col)`
  * spelling can never drive a storage-partitioned join — the SCAN
  * therefore reports the width inside the function NAME (resolved by
  * the catalog via the `truncate(\\d+)` family), while the two-arg
  * form remains for SQL DDL and the write-side distribution. The
  * bound canonical name carries the width, so only SAME-WIDTH layouts
  * compare co-partitioned. */
final class GraftTruncFixedFunction(w: Int) extends UnboundFunction {
  require(w > 0, s"truncate width must be positive; got $w")
  override def name(): String = s"truncate$w"
  override def description(): String =
    s"truncate$w(col): Iceberg truncate transform at fixed width $w " +
      "(the single-argument form KeyGroupedPartitioning supports)"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1,
      s"truncate$w takes one column; got ${inputType.simpleString}")
    inputType.fields(0).dataType match {
      case kt @ (LongType | IntegerType | ShortType | ByteType | StringType) =>
        new GraftTruncFixedBound(w, kt)
      case other => throw new UnsupportedOperationException(
        s"graft truncate keys are integral or string; got $other")
    }
  }
}

/** Bound form of [[GraftTruncFixedFunction]] — same arithmetic as
  * [[GraftTruncBound]] with the width captured. */
final class GraftTruncFixedBound(w: Int, keyType: DataType)
  extends ScalarFunction[Any] {
  override def inputTypes(): Array[DataType] = Array(keyType)
  override def resultType(): DataType =
    if (keyType == StringType) StringType else LongType
  override def name(): String = s"truncate$w"
  override def canonicalName(): String = s"graft.truncate[$w]"
  override def produceResult(input: InternalRow): Any = {
    if (input.isNullAt(0)) return null
    keyType match {
      case StringType =>
        val s = input.getUTF8String(0)
        if (s.numChars() <= w) s else s.substring(0, w)
      case LongType => val v = input.getLong(0); v - Math.floorMod(v, w.toLong)
      case IntegerType =>
        val v = input.getInt(0).toLong; v - Math.floorMod(v, w.toLong)
      case ShortType =>
        val v = input.getShort(0).toLong; v - Math.floorMod(v, w.toLong)
      case ByteType =>
        val v = input.getByte(0).toLong; v - Math.floorMod(v, w.toLong)
    }
  }
}

/** Bound form: one canonical name per unit regardless of the input's
  * temporal width, so a DateType side co-partitions with a
  * TimestampType one when the ordinals agree. */
final class GraftTimeBound(unit: String, inType: DataType)
  extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(inType)
  override def resultType(): DataType = IntegerType
  override def name(): String = unit
  override def canonicalName(): String = s"graft.$unit"
  override def produceResult(input: InternalRow): Integer = {
    if (input.isNullAt(0)) return null
    // InternalRow carries timestamps (both kinds) as epoch/local
    // micros, dates as epoch days
    val (days: Long, micros: Long) = inType match {
      case DateType =>
        val d = input.getInt(0).toLong; (d, d * 86400L * 1000000L)
      case _ =>
        val m = input.getLong(0); (Math.floorDiv(m, 86400L * 1000000L), m)
    }
    unit match {
      case "hours"  => Math.floorDiv(micros, 3600L * 1000000L).toInt
      case "days"   => days.toInt
      case "months" | "years" =>
        val ld = java.time.LocalDate.ofEpochDay(days)
        if (unit == "years") ld.getYear - 1970
        else (ld.getYear - 1970) * 12 + ld.getMonthValue - 1
    }
  }
}
