package graft.catalog

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sink.{ManifestFileIndex, ManifestSink}

/** One written file's stats as its write task folded them: the path
  * the task wrote it under (a task-attempt temporary path), its row
  * count, each stats column's (lo, hi) in the zone-map encoding —
  * `java.lang.Long` for integral, timestamp and date columns, `String`
  * for strings, null for a column that was null in every row — and
  * one result per requested [[Flavor]], in the tracker's flavor
  * order. */
final case class FileFold(path: String, rows: Long, lo: Array[Any], hi: Array[Any],
                          flavors: Array[Any])

/** What one write task hands the driver: every file it wrote. */
final case class FoldTaskStats(files: Seq[FileFold]) extends WriteTaskStats

/** The zone-map encoding of an integral, timestamp or date value
  * ([[ManifestSink.statLongExpr]]): widened to long, timestamps (both
  * kinds) as their internal micros, dates as days. */
private object LongAt {
  def apply(row: InternalRow, ordinal: Int, dt: DataType): Long = dt match {
    case IntegerType | DateType => row.getInt(ordinal).toLong
    case ShortType => row.getShort(ordinal).toLong
    case ByteType => row.getByte(ordinal).toLong
    case _ => row.getLong(ordinal) // long, timestamp, NTZ
  }
}

/** The per-row min/max fold over one file's stats columns. Bounds use
  * the encoding [[ManifestSink.statLongExpr]] defines: integral values
  * widened to long, timestamps as micros, NTZ values as their internal
  * long, dates as days; strings compare in UTF8String binary order (the
  * order Spark's own min/max uses). Nulls are ignored. */
private final class ZoneFold(ordinals: Array[Int], types: Array[DataType]) {
  private val n = ordinals.length
  var rows = 0L
  private val seen = new Array[Boolean](n)
  private val loL = new Array[Long](n)
  private val hiL = new Array[Long](n)
  // copies: the writer's input rows reuse their buffers
  private val loS = new Array[UTF8String](n)
  private val hiS = new Array[UTF8String](n)

  def add(row: InternalRow): Unit = {
    rows += 1
    var i = 0
    while (i < n) {
      if (!row.isNullAt(ordinals(i))) {
        if (types(i) == StringType) {
          val v = row.getUTF8String(ordinals(i))
          if (!seen(i) || v.binaryCompare(loS(i)) < 0) loS(i) = v.copy()
          if (!seen(i) || v.binaryCompare(hiS(i)) > 0) hiS(i) = v.copy()
        } else {
          val v = LongAt(row, ordinals(i), types(i))
          if (!seen(i) || v < loL(i)) loL(i) = v
          if (!seen(i) || v > hiL(i)) hiL(i) = v
        }
        seen(i) = true
      }
      i += 1
    }
  }

  private def bound(i: Int, l: Array[Long], s: Array[UTF8String]): Any =
    if (!seen(i)) null
    else if (types(i) == StringType) s(i).toString
    else java.lang.Long.valueOf(l(i))

  def lo: Array[Any] = Array.tabulate(n)(bound(_, loL, loS))
  def hi: Array[Any] = Array.tabulate(n)(bound(_, hiL, hiS))
}

/** One file's fold of one [[Flavor]]. */
private abstract class Fold {
  def add(row: InternalRow): Unit
  /** Serializable: it travels from the write task to the driver. */
  def result: Any
}

/** A per-file stats flavor beside the zone maps: how a write task
  * folds one file's rows, and which stats rows the driver builds from
  * a file's folded result. */
private sealed abstract class Flavor extends Serializable {
  def fold(): Fold
  def rows(file: String, result: Any): Seq[Row]
}

/** The file's complete distinct-value set of an integral or string
  * column, or — past `cap` values — the `__dictover:` sentinel. The
  * set stops growing at `cap + 1` values, enough to decide overflow. */
private final case class DictFlavor(c: String, ordinal: Int, dt: DataType, cap: Int)
  extends Flavor {
  private def isStr = dt == StringType

  override def fold(): Fold = new Fold {
    private val set = new java.util.HashSet[Any]()
    override def add(row: InternalRow): Unit =
      if (set.size <= cap && !row.isNullAt(ordinal)) {
        if (isStr) {
          val v = row.getUTF8String(ordinal)
          if (!set.contains(v)) set.add(v.copy())
        } else set.add(LongAt(row, ordinal, dt))
      }
    // sorted (UTF8String binary order for strings); null = overflow
    override def result: Any =
      if (set.size > cap) null
      else if (isStr) set.toArray.map(_.asInstanceOf[UTF8String])
        .sortWith(_.binaryCompare(_) < 0).map(_.toString: Any)
      else set.toArray.map(_.asInstanceOf[Long]).sorted.map(java.lang.Long.valueOf(_): Any)
  }

  override def rows(file: String, result: Any): Seq[Row] = result match {
    case null => Seq(ManifestSink.statsRow(file, s"__dictover:$c", null, null, null, null))
    case vs: Array[Any] => vs.toSeq.map(v =>
      if (isStr) ManifestSink.statsRow(file, s"__dict:$c", null, null, v, null)
      else ManifestSink.statsRow(file, s"__dict:$c", v, null, null, null))
  }
}

/** The file's bloom filter over an integral or string column
  * ([[ManifestFileIndex.bloomPositions]] — the one bloom hash); a file
  * whose column is null in every row gets no row (a point lookup then
  * keeps it). */
private final case class BloomFlavor(c: String, ordinal: Int, dt: DataType) extends Flavor {
  import ManifestFileIndex.{BloomBits, BloomHashes}

  override def fold(): Fold = new Fold {
    private val bits = new Array[Byte](BloomBits / 8)
    private var any = false
    override def add(row: InternalRow): Unit =
      if (!row.isNullAt(ordinal)) {
        val v = if (dt == StringType) row.getUTF8String(ordinal) else LongAt(row, ordinal, dt)
        ManifestFileIndex.bloomPositions(v, BloomBits, BloomHashes).foreach { p =>
          bits(p / 8) = (bits(p / 8) | (1 << (p % 8))).toByte
        }
        any = true
      }
    override def result: Any = if (any) bits.map("%02x".format(_)).mkString else null
  }

  override def rows(file: String, result: Any): Seq[Row] =
    if (result == null) Nil
    else Seq(ManifestSink.statsRow(file, s"__bloom:$c", BloomBits.toLong,
      BloomHashes.toLong, result, null))
}

/** A layout transform's value range over the file, through the same
  * row-local evaluator the replacement write places rows with
  * ([[LayoutAxisSpec.mkEval]], which delegates to the V2 bound
  * functions): a single-value file gets one `key` row, lo == hi.
  * Whether a multi-value file fails the write or drops the flavor is
  * the tracker's call ([[WriterStatsTracker]]). */
private final case class KeyFlavor(key: String, what: String, axis: LayoutAxisSpec,
                                   ordinal: Int, dt: DataType) extends Flavor {
  private def isStr = dt == StringType // string identity/truncate

  override def fold(): Fold = new Fold {
    private val eval = axis.mkEval(ordinal, dt)
    private var lo: Any = null
    private var hi: Any = null
    override def add(row: InternalRow): Unit = eval(row) match {
      case null => ()
      case s: UTF8String =>
        if (lo == null || s.binaryCompare(lo.asInstanceOf[UTF8String]) < 0) lo = s.copy()
        if (hi == null || s.binaryCompare(hi.asInstanceOf[UTF8String]) > 0) hi = s.copy()
      case v =>
        val l = v.asInstanceOf[Number].longValue
        if (lo == null || l < lo.asInstanceOf[Long]) lo = l
        if (hi == null || l > hi.asInstanceOf[Long]) hi = l
    }
    // (lo, hi): java.lang.Long or String, null when every value was
    override def result: Any = {
      def out(v: Any): Any = v match {
        case s: UTF8String => s.toString
        case other => other
      }
      (out(lo), out(hi))
    }
  }

  /** The file's single value, if it has one. */
  def single(result: Any): Option[Any] = result match {
    case (lo, hi) if lo != null && lo == hi => Some(lo)
    case _ => None
  }

  override def rows(file: String, result: Any): Seq[Row] = single(result).toSeq.map(v =>
    if (isStr) ManifestSink.statsRow(file, key, null, null, v, v)
    else ManifestSink.statsRow(file, key, v, v, null, null))
}

/** WRITER-SIDE STATS (the Iceberg/Delta pattern, through the hook
  * Delta uses — Spark's own write stats trackers): the only builder of
  * stats rows for freshly written files. Every file Spark's file
  * writer opens gets its own fold, fed each row the writer writes into
  * that file, so a layout write that rotates files inside one task
  * still folds per file. The fold always counts rows and takes
  * `spec.statsCols`' zone maps; it also folds each other flavor the
  * spec requests — dictionaries, blooms and the layout's
  * `__bucket`/`__ptime`/`__ident`/`__trunc` rows — allocating a
  * flavor's state only when it is requested. The write's commit then
  * builds the stats rows from the folds: nothing re-reads the files
  * it just wrote. Plugs into `FileFormatWriter.write` (the batch
  * stage, [[graft.sink.ManifestSink.stage]]) and into the V2
  * `WriteJobDescription` the write bridge builds (row-level DML and
  * the streaming sink). One tracker per write: the driver's instance
  * collects the committed tasks' folds in [[processStats]]; failed and
  * speculative-loser attempts never reach it.
  *
  * A layout flavor wants every non-empty file single-valued. Strict
  * (the default — the write just placed its rows under the layout),
  * a multi-value file fails [[fileRows]] naming the first such file;
  * `lenientLayout` (replacement writes, which keep a committed layout
  * only where their files happen to honour it) drops just that
  * flavor's rows, for every file.
  *
  * `schema` is the shape of the rows the writer writes (the data
  * columns). */
final class WriterStatsTracker(schema: StructType, spec: ManifestSink.WriteSpec,
                               lenientLayout: Boolean = false)
  extends WriteJobStatsTracker {

  private val statsCols = spec.statsCols
  statsCols.foreach(c => ManifestSink.requireZoneMapType(c, schema(c).dataType))
  private val ordinals = statsCols.map(schema.fieldIndex).toArray
  private val types = ordinals.map(schema.fields(_).dataType)

  private def point(c: String, what: String): (Int, DataType) = {
    val i = schema.fieldIndex(c)
    schema.fields(i).dataType match {
      case t @ (StringType | LongType | IntegerType | ShortType | ByteType) => (i, t)
      case other => throw new IllegalArgumentException(
        s"$what support integral and string columns; $c is $other")
    }
  }

  private def keyFlavor(key: String, what: String, axis: LayoutAxisSpec): Flavor = {
    val i = schema.fieldIndex(axis.col)
    KeyFlavor(key, what, axis, i, schema.fields(i).dataType)
  }

  private val flavors: Array[Flavor] = (
    spec.dictCols.map { c =>
      val (i, t) = point(c, "file dictionaries"); DictFlavor(c, i, t, spec.dictCap) } ++
    spec.bloomCols.map { c =>
      val (i, t) = point(c, "bloom filters"); BloomFlavor(c, i, t) } ++
    spec.layout.bucket.map { case (k, n) =>
      keyFlavor(s"__bucket:$k:$n", "bucketed stage produced a mixed-bucket file",
        BucketAxis(k, n)) } ++
    spec.layout.ptime.map { case (c, u) =>
      keyFlavor(s"__ptime:$c:$u", "time-partitioned stage produced a mixed-ordinal file",
        TimeAxis(c, u)) } ++
    spec.layout.ident.map { case (c, w) =>
      keyFlavor(w.fold(s"__ident:$c")(wd => s"__trunc:$c:$wd"),
        "identity/truncate stage produced a mixed-value file", IdentAxis(c, w)) }
  ).toArray

  @transient private var collected: Seq[FileFold] = Nil

  override def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
    private final class FileState {
      val zone = new ZoneFold(ordinals, types)
      val extra: Array[Fold] = flavors.map(_.fold())
      def add(row: InternalRow): Unit = {
        zone.add(row)
        var j = 0
        while (j < extra.length) { extra(j).add(row); j += 1 }
      }
    }
    private val folds = new java.util.LinkedHashMap[String, FileState]()
    private var lastPath: String = null
    private var last: FileState = null

    override def newPartition(partitionValues: InternalRow): Unit = ()

    override def newFile(filePath: String): Unit = {
      last = new FileState
      lastPath = filePath
      folds.put(filePath, last)
    }

    override def closeFile(filePath: String): Unit = ()

    override def newRow(filePath: String, row: InternalRow): Unit = {
      // writers with several open files interleave their rows
      if (!(filePath eq lastPath)) { lastPath = filePath; last = folds.get(filePath) }
      last.add(row)
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
      val out = Seq.newBuilder[FileFold]
      folds.forEach((p, f) =>
        out += FileFold(p, f.zone.rows, f.zone.lo, f.zone.hi, f.extra.map(_.result)))
      FoldTaskStats(out.result())
    }
  }

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    collected = stats.flatMap { case z: FoldTaskStats => z.files }

  /** The committed `files` (paths relative to the table root, each
    * under `outDir` — the write's output dir, also table-relative;
    * empty when `files` are relative to it) paired with their folds.
    * Every committed file must match exactly one fold (its path
    * relative to `outDir` is the fold path's suffix), and every fold
    * one file. */
  private def matched(files: Seq[String], outDir: String): Seq[(String, FileFold)] = {
    val byName = collected.groupBy(z => z.path.substring(z.path.lastIndexOf('/') + 1))
    val out = files.map { f =>
      val sub = if (outDir.isEmpty) f else f.stripPrefix(s"$outDir/")
      val hits = byName.getOrElse(sub.substring(sub.lastIndexOf('/') + 1), Nil)
        .filter(_.path.endsWith(s"/$sub"))
      require(hits.size == 1,
        s"staged file $f matches ${hits.size} writer folds (${hits.map(_.path).mkString(",")})")
      f -> hits.head
    }
    require(out.size == collected.size,
      s"the write folded ${collected.size} files but committed ${files.size}: " +
        collected.map(_.path).mkString(","))
    out
  }

  /** The committed files whose writers wrote no row (Spark's file
    * writer keeps one schema-only file for a job with no rows). */
  def emptyFiles(files: Seq[String], outDir: String): Seq[String] =
    matched(files, outDir).collect { case (f, z) if z.rows == 0 => f }

  /** The stats rows ([[ManifestSink.StatsSchema]]) of the committed
    * `files` (keyed as [[matched]] describes), per file in this order:
    * one zone-map row per stats column and a `__count` row (when the
    * spec has stats columns), then the dictionary, bloom and layout
    * rows. A file with no row gets no stats row. The `__count` rows
    * are what metadata-only aggregation sums
    * ([[ManifestSink.aggFromMetadata]]); they carry and compact with
    * the min/max rows. */
  def fileRows(files: Seq[String], outDir: String): Seq[Row] = {
    val live = matched(files, outDir).filter(_._2.rows > 0)
    val keep = flavors.indices.map(j => flavors(j) match {
      case k: KeyFlavor =>
        val mixed = live.find { case (_, z) => k.single(z.flavors(j)).isEmpty }
        mixed.foreach { case (f, z) =>
          val (lo, hi) = z.flavors(j)
          require(lenientLayout, s"${k.what} $f: $lo..$hi")
        }
        mixed.isEmpty
      case _ => true
    })
    live.flatMap { case (f, z) =>
      val zones =
        if (statsCols.isEmpty) Nil
        else statsCols.indices.map { i =>
          val c = statsCols(i)
          if (types(i) == StringType) ManifestSink.statsRow(f, c, null, null, z.lo(i), z.hi(i))
          else ManifestSink.statsRow(f, c, z.lo(i), z.hi(i), null, null)
        } :+ ManifestSink.statsRow(f, "__count", java.lang.Long.valueOf(z.rows), null, null, null)
      zones ++ flavors.indices.filter(keep).flatMap(j => flavors(j).rows(f, z.flavors(j)))
    }
  }
}

/** Per-task commit of a lazily opened writer: the delegate's message,
  * or null when the task saw no row and so opened no file. */
final case class LazyTaskCommit(inner: WriterCommitMessage) extends WriterCommitMessage

/** Opens the delegate file writer on the task's FIRST row, so a
  * zero-row task publishes no file (the streaming sink's writers:
  * a no-data micro-batch adds nothing to the table). */
final class LazyOpenWriterFactory(inner: DataWriterFactory)
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var w: DataWriter[InternalRow] = null

      override def write(row: InternalRow): Unit = {
        if (w == null) w = inner.createWriter(partitionId, taskId)
        w.write(row)
      }

      override def commit(): WriterCommitMessage =
        LazyTaskCommit(if (w == null) null else w.commit())

      override def abort(): Unit = if (w != null) w.abort()

      override def close(): Unit = if (w != null) w.close()
    }
}
