package graft.catalog

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sink.ManifestSink

/** One written file's zone maps as its write task folded them: the
  * path the task wrote it under (a task-attempt temporary path), its
  * row count, and each stats column's (lo, hi) in the zone-map
  * encoding — `java.lang.Long` for integral, timestamp and date
  * columns, `String` for strings, null for a column that was null in
  * every row. */
final case class FileZones(path: String, rows: Long, lo: Array[Any], hi: Array[Any])

/** What one write task hands the driver: every file it wrote. */
final case class ZoneTaskStats(files: Seq[FileZones]) extends WriteTaskStats

/** The per-row min/max fold over one file's stats columns. Bounds use
  * the encoding [[ManifestSink.statLongExpr]] defines: integral values
  * widened to long, timestamps as micros, NTZ values as their internal
  * long, dates as days; strings compare in UTF8String binary order (the
  * order Spark's own min/max uses). Nulls are ignored. */
private final class ZoneFold(ordinals: Array[Int], types: Array[DataType]) {
  private val n = ordinals.length
  private var rows = 0L
  private val seen = new Array[Boolean](n)
  private val loL = new Array[Long](n)
  private val hiL = new Array[Long](n)
  // copies: the writer's input rows reuse their buffers
  private val loS = new Array[UTF8String](n)
  private val hiS = new Array[UTF8String](n)

  private def longAt(row: InternalRow, i: Int): Long = types(i) match {
    case IntegerType | DateType => row.getInt(ordinals(i)).toLong
    case ShortType => row.getShort(ordinals(i)).toLong
    case ByteType => row.getByte(ordinals(i)).toLong
    case _ => row.getLong(ordinals(i)) // long, timestamp, NTZ
  }

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
          val v = longAt(row, i)
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

  def result(path: String): FileZones =
    FileZones(path, rows, Array.tabulate(n)(bound(_, loL, loS)),
      Array.tabulate(n)(bound(_, hiL, hiS)))
}

/** WRITER-SIDE ZONE MAPS (the Iceberg/Delta pattern, through the hook
  * Delta uses — Spark's own write stats trackers): every file Spark's
  * file writer opens gets its own [[ZoneFold]], fed each row the writer
  * writes into that file, so a layout write that rotates files inside
  * one task still folds per file. The write's commit then builds the
  * stats rows from the folds — nothing re-reads the files it just
  * wrote. Plugs into `FileFormatWriter.write` (the batch stage,
  * [[graft.sink.ManifestSink.stage]]) and into the V2
  * `WriteJobDescription` the write bridge builds (row-level DML and the
  * streaming sink). One tracker per write: the driver's instance
  * collects the committed tasks' folds in [[processStats]]; failed and
  * speculative-loser attempts never reach it.
  *
  * `schema` is the shape of the rows the writer writes (the data
  * columns); every `statsCols` entry must be a zone-map type. */
final class ZoneStatsTracker(schema: StructType, statsCols: Seq[String])
  extends WriteJobStatsTracker {

  statsCols.foreach(c => ManifestSink.requireZoneMapType(c, schema(c).dataType))
  private val ordinals = statsCols.map(schema.fieldIndex).toArray
  private val types = ordinals.map(schema.fields(_).dataType)

  @transient private var collected: Seq[FileZones] = Nil

  override def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
    private val folds = new java.util.LinkedHashMap[String, ZoneFold]()
    private var lastPath: String = null
    private var last: ZoneFold = null

    override def newPartition(partitionValues: InternalRow): Unit = ()

    override def newFile(filePath: String): Unit = {
      last = new ZoneFold(ordinals, types)
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
      val out = Seq.newBuilder[FileZones]
      folds.forEach((p, f) => out += f.result(p))
      ZoneTaskStats(out.result())
    }
  }

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    collected = stats.flatMap { case z: ZoneTaskStats => z.files }

  /** The stats rows ([[ManifestSink.StatsSchema]]) of the files the
    * write committed, keyed by `files` — their paths relative to the
    * table root, each under `outDir` (the write's output dir, also
    * table-relative; empty when `files` are relative to it). One row
    * per stats column plus a `__count` row per file, exactly what a
    * re-read `groupBy(input_file_name())` aggregate gives: a file with
    * no row gets no stats row. Every committed file must match exactly
    * one fold (its path relative to `outDir` is the fold path's
    * suffix), and every fold one file. The `__count` rows are what
    * metadata-only aggregation sums ([[ManifestSink.aggFromMetadata]]);
    * they carry and compact with the min/max rows. */
  def fileRows(files: Seq[String], outDir: String): Seq[Row] = {
    val byName = collected.groupBy(z => z.path.substring(z.path.lastIndexOf('/') + 1))
    val matched = files.map { f =>
      val sub = if (outDir.isEmpty) f else f.stripPrefix(s"$outDir/")
      val hits = byName.getOrElse(sub.substring(sub.lastIndexOf('/') + 1), Nil)
        .filter(_.path.endsWith(s"/$sub"))
      require(hits.size == 1,
        s"staged file $f matches ${hits.size} writer folds (${hits.map(_.path).mkString(",")})")
      f -> hits.head
    }
    require(matched.size == collected.size,
      s"the write folded ${collected.size} files but committed ${files.size}: " +
        collected.map(_.path).mkString(","))
    matched.flatMap { case (f, z) =>
      if (z.rows == 0) Nil
      else statsCols.indices.map { i =>
        if (types(i) == StringType) ManifestSink.statsRow(f, statsCols(i), null, null, z.lo(i), z.hi(i))
        else ManifestSink.statsRow(f, statsCols(i), z.lo(i), z.hi(i), null, null)
      } :+ ManifestSink.statsRow(f, "__count", java.lang.Long.valueOf(z.rows), null, null, null)
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
