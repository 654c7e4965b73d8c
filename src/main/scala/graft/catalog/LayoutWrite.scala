package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeRow, XXH64}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expression, Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.WriteJobStatsTracker
import org.apache.spark.sql.execution.datasources.v2.GraftWriteBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sink.ManifestSink

/** One axis of a partition layout, as every laid-out write places
  * rows by it: the V2 transform Spark clusters and sorts the write
  * plan by (resolved through the catalog's FunctionCatalog to the SAME
  * bound function the SPJ read path compares — the write-side
  * placement and the declared transform must be one function or
  * co-partitioning would silently lie), plus the row-local evaluator
  * computing the synthetic partition value the write rotates files
  * on. The evaluators DELEGATE to those very bound functions
  * ([[GraftBucketBound]], [[GraftTimeBound]], [[GraftTruncFixedBound]]),
  * so write placement, pruning, and join planning can never drift
  * apart. Built only by [[ManifestSink.LayoutDecl.axes]]. */
sealed trait LayoutAxisSpec extends Serializable {
  /** The spec's source column as stored in the data files. */
  def col: String
  /** The V2 transform over the write plan's column name. */
  def transform(logicalCol: String): Transform
  /** True when [[transform]] is the identity — its sort IS the raw
    * column sort, so callers skip the duplicate ordering key. */
  def isIdentity: Boolean = false
  /** The synthetic partition field's type for a source column type;
    * refuses a column type the transform does not take (checked before
    * anything is written). */
  def fieldType(colType: DataType): DataType
  /** Row-local partition-value evaluator over rows whose field
    * `colIdx` holds the source column. NOT thread-safe (carries a
    * reusable buffer) — build one per writer. */
  def mkEval(colIdx: Int, colType: DataType): InternalRow => Any
  /** Refusal for null layout values: a row placed in any layout
    * partition would break the key-grouping contract SPJ plans
    * against. */
  def nullMsg: String
}

/** An evaluator applying a bound one-column function after `lead`
  * constant arguments (bucket's `n`, nothing for time/truncate). */
private object BoundEval {
  def apply(i: Int, ct: DataType, lead: Seq[Any],
            fn: InternalRow => Any): InternalRow => Any = {
    val buf = new GenericInternalRow(lead.length + 1)
    lead.indices.foreach(j => buf.update(j, lead(j)))
    row =>
      if (row.isNullAt(i)) null
      else { buf.update(lead.length, row.get(i, ct)); fn(buf) }
  }
}

final case class BucketAxis(col: String, n: Int) extends LayoutAxisSpec {
  override def transform(l: String): Transform = Expressions.bucket(n, l)
  override def fieldType(ct: DataType): DataType = {
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(ct),
      s"bucketed layout needs an integral key; $col is $ct")
    IntegerType
  }
  override def mkEval(i: Int, ct: DataType): InternalRow => Any =
    BoundEval(i, ct, Seq(n), new GraftBucketBound(ct).produceResult)
  override def nullMsg: String = s"bucketed layout: null bucket key $col"
}

final case class TimeAxis(col: String, unit: String) extends LayoutAxisSpec {
  override def transform(l: String): Transform =
    Expressions.apply(unit, Expressions.column(l))
  override def fieldType(ct: DataType): DataType = {
    require(Seq(TimestampType, TimestampNTZType, DateType).contains(ct),
      s"time-partitioned layout needs a timestamp or date column; $col is $ct")
    IntegerType
  }
  override def mkEval(i: Int, ct: DataType): InternalRow => Any =
    BoundEval(i, ct, Nil, new GraftTimeBound(unit, ct).produceResult)
  override def nullMsg: String =
    s"time layout: null partition value in $col"
}

final case class IdentAxis(col: String, width: Option[Int])
  extends LayoutAxisSpec {
  // truncate as the SINGLE-ARGUMENT `truncate<w>(col)` — the spelling
  // the scans report and `GraftTable.partitioning()` declares
  override def transform(l: String): Transform = width match {
    case Some(w) => Expressions.apply(s"truncate$w", Expressions.column(l))
    case None => Expressions.identity(l)
  }
  override def isIdentity: Boolean = width.isEmpty
  override def fieldType(ct: DataType): DataType = (ct, width) match {
    case (StringType, _) => StringType
    case (LongType | IntegerType | ShortType | ByteType, Some(_)) => LongType
    case (LongType | IntegerType | ShortType | ByteType, None) => ct
    case (other, _) => throw new IllegalArgumentException(
      s"identity/truncate layout needs an integral or string column; got $other")
  }
  override def mkEval(i: Int, ct: DataType): InternalRow => Any = width match {
    case Some(w) => BoundEval(i, ct, Nil, new GraftTruncFixedBound(w, ct).produceResult)
    case None => row => if (row.isNullAt(i)) null else row.get(i, ct)
  }
  override def nullMsg: String =
    s"identity/truncate layout: null partition value in $col"
}

/** The layout a laid-out write declares to Spark (the Iceberg
  * write-distribution discipline): rows clustered by the axes'
  * transforms through a best-effort REBALANCE — AQE sizes the shuffle
  * toward `targetBytes` and splits a skewed layout value across tasks,
  * while the per-value file rotation keeps every file single-key
  * regardless — then sorted by the transforms and the raw source
  * columns ([[LayoutWrite.ordering]]). No axes declare nothing: the
  * flat write keeps its plan. */
trait LayoutDistribution extends RequiresDistributionAndOrdering {
  /** The axes, each with the column name the write plan resolves. */
  protected def layoutAxes: Seq[(LayoutAxisSpec, String)]
  protected def targetBytes: Long

  override def requiredDistribution(): Distribution =
    if (layoutAxes.isEmpty) Distributions.unspecified()
    else Distributions.clustered(
      layoutAxes.map { case (a, l) => a.transform(l) }.toArray[Expression])

  override def distributionStrictlyRequired(): Boolean = false

  override def advisoryPartitionSizeInBytes(): Long =
    if (layoutAxes.isEmpty) 0L else targetBytes

  override def requiredOrdering(): Array[SortOrder] = LayoutWrite.ordering(layoutAxes)
}

object LayoutWrite {

  /** Required sort for a laid-out write: the transforms first (the
    * dynamic-partition writer rotates files on value CHANGE — unsorted
    * input explodes the file count), then the raw source columns so
    * zone maps stay tight within each file (skipped for identity axes,
    * whose transform IS the raw column). */
  def ordering(axes: Seq[(LayoutAxisSpec, String)]): Array[SortOrder] =
    (axes.map { case (a, l) =>
      Expressions.sort(a.transform(l), SortDirection.ASCENDING)
    } ++ axes.collect { case (a, l) if !a.isIdentity =>
      Expressions.sort(Expressions.column(l), SortDirection.ASCENDING)
    }).toArray

  /** Write `df` into `path` through `trackers`: flat (Spark's file
    * writer over `df`'s own plan), or — under `axes` — laid out in ONE
    * pass over the input. Spark plans the axes' distribution and
    * ordering as it plans any V2 write ([[LayoutDistribution]]), and
    * the writers rotate one file per layout value and roll to the next
    * file of a value past [[ManifestSink.targetFileSize]]
    * ([[LayoutBatchWrite]]); files land under `__p<j>=<v>/` partition
    * subdirectories. Overwrites `path`. */
  def write(df: DataFrame, path: String, axes: Seq[LayoutAxisSpec],
            trackers: Seq[WriteJobStatsTracker]): Unit =
    if (axes.isEmpty) GraftWriteBridge.writeParquet(df, path, trackers)
    else {
      val spark = df.sparkSession
      val schema = df.schema
      val target = ManifestSink.targetFileSize(spark)
      val out = new org.apache.hadoop.fs.Path(path)
      val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(out)) fs.delete(out, true)
      val decl = new Write with LayoutDistribution {
        override protected val layoutAxes = axes.map(a => (a, a.col))
        override protected val targetBytes = target
      }
      val batch = new LayoutBatchWrite(spark, path, schema, schema,
        axes.map(a => (a, schema.fieldIndex(a.col))), Map.empty, trackers, target)(() => ())
      GraftWriteBridge.writeV2(df, decl, batch, new GraftCatalog, s"graft stage $path")
    }
}

/** The one staged parquet BatchWrite of a laid-out write — and of the
  * flat row-level replacement write (no axes): Spark's own file
  * commit protocol ([[GraftWriteBridge.partitionedParquetWrite]]) with
  * one synthetic partition column per axis plus the roll ordinal
  * (`__p0…, __roll`), so files land as
  * `__p0=<v>/…/__roll=<r>/part-*.parquet`. `rowSchema` is the shape of
  * the rows the writers receive (the row-level write's table schema,
  * its source columns at `axes`' indices), `fileSchema` the shape the
  * files store. With no axes the writers are the flat
  * [[OpStrippingWriterFactory]], which passes table-shaped rows through
  * untouched. `onCommit` runs after the file commit. */
final class LayoutBatchWrite(spark: SparkSession, path: String,
                             rowSchema: StructType, fileSchema: StructType,
                             axes: Seq[(LayoutAxisSpec, Int)],
                             options: Map[String, String],
                             trackers: Seq[WriteJobStatsTracker],
                             targetBytes: Long)(onCommit: () => Unit) extends BatchWrite {

  // a string layout value names its directory by its 64-bit hash
  // (LayoutAppendingWriterFactory): any value — non-ASCII, long — is a
  // valid path component
  private val partSchema = StructType(
    if (axes.isEmpty) Nil
    else axes.zipWithIndex.map { case ((a, i), j) =>
      val t = a.fieldType(rowSchema.fields(i).dataType)
      StructField(s"__p$j", if (t == StringType) LongType else t, nullable = false)
    } :+ StructField("__roll", IntegerType, nullable = false))

  private val delegate = GraftWriteBridge.partitionedParquetWrite(spark, path,
    fileSchema, partSchema, options, trackers)

  override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DataWriterFactory = {
    val inner = delegate.createBatchWriterFactory(pInfo)
    val types = rowSchema.fields.map(_.dataType)
    if (axes.isEmpty) new OpStrippingWriterFactory(inner, types, rowSchema.fields.map(_.nullable))
    else new LayoutAppendingWriterFactory(inner, types, axes.map(_.swap).toArray, targetBytes)
  }

  override def useCommitCoordinator: Boolean = delegate.useCommitCoordinator
  override def onDataWriterCommit(message: WriterCommitMessage): Unit =
    delegate.onDataWriterCommit(message)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    delegate.commit(messages)
    onCommit()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = delegate.abort(messages)
}

/** Appends the computed layout-partition values (a string value as its
  * 64-bit hash, which names its directory) and the roll ordinal to
  * each row — and strips the leading `__row_operation` column
  * ReplaceData prepends when the table declares no metadata
  * attributes — feeding Spark's dynamic-partition writer rows shaped
  * `data ++ partition`. A null layout value is refused
  * ([[LayoutAxisSpec.nullMsg]]).
  *
  * The ROLL (Iceberg's rolling writer): rows arrive sorted by the
  * layout values, so each value is one run per task. Within a run, once
  * the rows written pass `targetBytes`, the roll ordinal — a hidden
  * last partition value, never part of the data row the stats fold —
  * steps, and the writer rotates to the next file of the same value: a
  * hot key commits several bounded single-key files even from a
  * single input partition. */
final class LayoutAppendingWriterFactory(
    delegate: DataWriterFactory,
    dataTypes: Array[DataType],
    axes: Array[(Int, LayoutAxisSpec)],
    targetBytes: Long) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long):
      DataWriter[InternalRow] = {
    val inner = delegate.createWriter(partitionId, taskId)
    val evals = axes.map { case (i, a) => (a.mkEval(i, dataTypes(i)), a.nullMsg) }
    val n = dataTypes.length
    val k = evals.length
    val fixedBytes = dataTypes.map(_.defaultSize.toLong).sum
    val out = new GenericInternalRow(n + k + 1)
    new DataWriter[InternalRow] {
      private val vals = new Array[Any](k)
      private val key = new Array[Any](k)
      private var started = false
      private var roll = 0
      private var bytes = 0L

      override def write(row: InternalRow): Unit = {
        // rows arrive as [data...] or [__row_operation, data...]
        val off = row.numFields - n
        require(off == 0 || off == 1,
          s"replacement row has ${row.numFields} fields for a " +
            s"$n-column table — unexpected plan shape")
        var i = 0
        while (i < n) { out.update(i, row.get(i + off, dataTypes(i))); i += 1 }
        var same = started
        var j = 0
        while (j < k) {
          val (ev, msg) = evals(j)
          val v = ev(out)
          if (v == null) throw new IllegalArgumentException(msg)
          if (same && v != key(j)) same = false
          vals(j) = v
          j += 1
        }
        if (!same) {
          j = 0
          while (j < k) {
            key(j) = vals(j) match { case s: UTF8String => s.copy(); case v => v }
            j += 1
          }
          started = true; roll = 0; bytes = 0L
        } else if (bytes >= targetBytes) { roll += 1; bytes = 0L }
        bytes += (row match {
          case u: UnsafeRow => u.getSizeInBytes.toLong
          case _ => fixedBytes
        })
        j = 0
        while (j < k) {
          out.update(n + j, vals(j) match {
            case s: UTF8String => XXH64.hashUTF8String(s, 42L)
            case v => v
          })
          j += 1
        }
        out.update(n + k, roll)
        inner.write(out)
      }
      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
  }
}
