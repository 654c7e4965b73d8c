package graft.catalog

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
import org.apache.spark.sql.execution.datasources.{BasicWriteTaskStats, WriteTaskResult}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sink.ManifestSink

/** Per-task commit of the streaming sink's writer: the delegate file
  * writer's own message (null when the task saw no row, so it opened
  * no file), the task's row count, and each stats column's (lo, hi)
  * in the zone-map encoding — `java.lang.Long` for integral, timestamp
  * and date columns, `String` for strings, null for a column that was
  * null in every row. */
final case class StatsTaskCommit(partitionId: Int, inner: WriterCommitMessage,
                                 rows: Long, lo: Array[Any], hi: Array[Any])
  extends WriterCommitMessage

/** WRITER-SIDE STATS (the Iceberg/Delta pattern): wraps the delegate
  * parquet writer factory so each task folds its file's stats as rows
  * stream through — no commit-time re-read of the batch. The delegate
  * writer opens on the task's FIRST row, so a zero-row task publishes
  * no file. Bounds use the encoding [[ManifestSink.statLongExpr]]
  * gives the re-read path: integral values widened to long, timestamps
  * as micros, NTZ values as their internal long, dates as days;
  * strings compare in UTF8String binary order. Nulls are ignored. */
final class StatsDataWriterFactory(inner: DataWriterFactory, schema: StructType,
                                   statsCols: Seq[String])
  extends StreamingDataWriterFactory {

  private val ordinals = statsCols.map(schema.fieldIndex).toArray
  private val types = ordinals.map(schema.fields(_).dataType)
  private val strs = types.map(_ == StringType)

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var w: DataWriter[InternalRow] = null
      private var rows = 0L
      private val n = ordinals.length
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

      override def write(row: InternalRow): Unit = {
        if (w == null) w = inner.createWriter(partitionId, taskId)
        w.write(row)
        rows += 1
        var i = 0
        while (i < n) {
          if (!row.isNullAt(ordinals(i))) {
            if (strs(i)) {
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
        else if (strs(i)) s(i).toString
        else java.lang.Long.valueOf(l(i))

      override def commit(): WriterCommitMessage =
        StatsTaskCommit(partitionId, if (w == null) null else w.commit(), rows,
          Array.tabulate(n)(bound(_, loL, loS)), Array.tabulate(n)(bound(_, hiL, hiS)))

      override def abort(): Unit = if (w != null) w.abort()

      override def close(): Unit = if (w != null) w.close()
    }
}

object WriterStats {

  private val PartFile = """part-(\d+)-.*""".r

  /** The staged files' stats rows ([[ManifestSink.StatsSchema]], `file`
    * = the staged file's name), byte-identical to what the re-read
    * zone-map builder computes: one row per (file, stats column) plus
    * a `__count` row. With `maxRecordsPerFile` pinned to 0 a task
    * writes at most one file, named `part-<partition id>-…`; every
    * file must map to exactly one task that opened a writer, and each
    * task's folded row count must equal the count the file writer
    * itself reported. */
  def fileRows(files: Seq[String], tasks: Seq[StatsTaskCommit],
               statsCols: Seq[String], schema: StructType): Seq[Row] = {
    val opened = tasks.filter(_.inner != null)
    val byPart = opened.map(t => t.partitionId -> t).toMap
    val byFile = files.map {
      case f @ PartFile(id) => f -> byPart.getOrElse(id.toInt,
        throw new IllegalStateException(s"staged file $f has no writer stats"))
      case f => throw new IllegalStateException(s"unexpected staged file name $f")
    }
    require(byFile.map(_._2.partitionId).toSet == byPart.keySet &&
      byFile.size == byPart.size,
      s"staged files ${files.mkString(",")} do not map one-to-one onto the " +
        s"writing tasks ${byPart.keys.toSeq.sorted.mkString(",")}")
    val isStr = statsCols.map(c => schema(c).dataType == StringType)
    byFile.flatMap { case (f, t) =>
      val written = t.inner match {
        case r: WriteTaskResult =>
          r.summary.stats.collect { case s: BasicWriteTaskStats => s.numRows }.sum
        case other => throw new IllegalStateException(
          s"unexpected file writer commit message $other")
      }
      if (written != t.rows)
        throw new IllegalStateException(
          s"task ${t.partitionId} counted ${t.rows} rows but its file writer wrote $written")
      statsCols.indices.map { i =>
        if (isStr(i)) ManifestSink.statsRow(f, statsCols(i), null, null, t.lo(i), t.hi(i))
        else ManifestSink.statsRow(f, statsCols(i), t.lo(i), t.hi(i), null, null)
      } :+ ManifestSink.statsRow(f, "__count", java.lang.Long.valueOf(t.rows), null, null, null)
    }
  }
}
