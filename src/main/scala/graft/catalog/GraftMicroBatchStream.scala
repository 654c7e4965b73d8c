package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sink.ManifestSink

/** Epoch as a V2 streaming offset: the commit-marker sequence is
  * already a totally-ordered log, so the offset IS the epoch number —
  * no side bookkeeping to drift from the table. */
final case class EpochOffset(epoch: Int) extends Offset {
  override def json(): String = epoch.toString
}

/** The offset half every graft stream shares: offsets are the
  * committed epochs of the table at `dir` after `startEpoch`. */
abstract class EpochStream(spark: SparkSession, dir: String, startEpoch: Int)
  extends MicroBatchStream {

  override def initialOffset(): Offset = EpochOffset(startEpoch)

  override def latestOffset(): Offset =
    EpochOffset(ManifestSink.currentEpochOpt(spark, dir)
      .filter(_ > startEpoch).getOrElse(startEpoch))

  override def deserializeOffset(json: String): Offset =
    EpochOffset(json.trim.toInt)

  override def stop(): Unit = ()
}

/** `spark.readStream.table("graft.`/path`")` (or, by root,
  * `spark.readStream.format("graft-manifest").option("root", dir)`) —
  * the epoch-tailing micro-batch stream: offsets are committed epochs,
  * each batch (from, to] plans EXACTLY the files those epochs appended
  * to the manifest — per-trigger work is O(new data) regardless of
  * table size. The first batch from the initial offset is the
  * snapshot-then-tail opening (full manifest of the first observed
  * epoch), or `option("startEpoch", N)` skips the snapshot.
  *
  * Append-only contract (Delta's): a batch range that REMOVED
  * manifest files or changed delete vectors (CoW rewrite, compaction,
  * MoR delete) fails fast rather than silently re-streaming carried
  * rows — `option("allowRewrites", true)` opts out for key-deduping
  * consumers; the row-level change feed is the `@changes` table
  * ([[GraftChangesTable]], `option("changeFeedKey", <mergeKey>)`).
  *
  * `layoutCols` (`option("partitionValues", true)` — see
  * [[GraftMicroBatchStream.layoutColumns]]) rides each file's
  * COMMITTED layout value as a partition value of the parquet scan,
  * the way Spark's own file sources attach partition columns: the
  * time ordinal / bucket id / integral identity value as `_partition`,
  * and on a composed (time, bucket) table the pair UNPACKED as
  * `_partition` (time ordinal) + `_bucket`. Values come from the
  * manifest's stats rows, never recomputed, so a downstream
  * foreachBatch can write PARTITION-ALIGNED.
  *
  * Retention contract: the checkpointed epoch and its successors'
  * manifests must outlive the stream's lag (vacuum `keep` ≥ consumer
  * lag in epochs), or a restart fails fast on the missing manifest.
  * Exactly-once composes from immutable files + engine-owned offsets +
  * an idempotent-txn downstream sink. */
final class GraftMicroBatchStream(spark: SparkSession, dir: String,
                                  tableSchema: StructType, required: StructType,
                                  startEpoch: Int, allowRewrites: Boolean,
                                  layoutCols: StructType)
  extends EpochStream(spark, dir, startEpoch) {

  private val rootUri = new Path(dir).toUri.getPath

  private def relFiles(e: Int): Set[String] =
    if (e <= 0) Set.empty
    else ManifestSink.manifestFiles(spark, dir, e).map { p =>
      new Path(p).toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
    }.toSet

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[EpochOffset].epoch
    val to = end.asInstanceOf[EpochOffset].epoch
    if (to <= from) return Array.empty
    val prev = relFiles(from)
    val cur = relFiles(to)
    val removed = prev -- cur
    val dvChanged =
      (if (from <= 0) None else ManifestSink.commitDv(spark, dir, from)) !=
        ManifestSink.commitDv(spark, dir, to)
    if ((removed.nonEmpty || dvChanged) && !allowRewrites)
      throw new IllegalStateException(
        s"streaming read of $dir: epochs ($from, $to] removed " +
          s"${removed.size} files / changed delete vectors; the micro-batch " +
          "source requires append-only epochs — set allowRewrites=true, or " +
          "stream the row-level change feed with option(\"changeFeedKey\", " +
          "<mergeKey>)")
    val added = (cur -- prev).toSeq.sorted
    if (added.isEmpty) Array.empty
    else {
      // sizes from the manifest entries of `to` — the per-batch plan
      // pays zero per-file RPCs, like every other planning path
      val sizes = ManifestSink.manifestEntries(spark, dir, to).toMap
      val values = layoutValues(to)
      val statuses = added.map { n =>
        val p = new Path(s"$dir/$n")
        sizes.get(n).filter(_ >= 0)
          .map(s => new org.apache.hadoop.fs.FileStatus(s, false, 1, 134217728L, 0L, p))
          .getOrElse(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .getFileStatus(p))
      }
      scanOver(statuses, statuses.zip(added.map(values)).toMap)
        .planInputPartitions()
    }
  }

  /** rel path -> the file's `layoutCols` row, from epoch `to`'s
    * committed layout rows (a file the layout does not cover rides
    * nulls). */
  private def layoutValues(to: Int): String => InternalRow =
    if (layoutCols.isEmpty) _ => InternalRow.empty
    else {
      // identity-COMPOSED and string-identity layouts are refused
      // LOUDLY: the identity axis has no Long `_partition` encoding
      // (string values are unsurfaceable through this column's type,
      // and the composed pair would silently ride only the partner
      // axis, dropping a declared dimension from the stream's
      // contract). Integral single-axis identity layouts work.
      val identC = ManifestSink.identSpec(spark, dir, to)
      val bs = ManifestSink.bucketSpec(spark, dir, to)
      val ts = ManifestSink.ptimeSpec(spark, dir, to)
      if (identC.exists(_.isString) ||
          (identC.isDefined && (bs.isDefined || ts.isDefined)))
        throw new IllegalArgumentException(
          "partitionValues on an identity-composed or string-identity " +
            "layout is not supported: the identity value has no Long " +
            "_partition encoding — read per-file layout values from " +
            "the @files metadata table, or stream without " +
            "partitionValues")
      if (layoutCols.fieldNames.contains("_bucket"))
        rel => InternalRow(
          ts.flatMap(_.fileOrds.get(rel)).map(o => Long.box(o.toLong)).orNull,
          bs.flatMap(_.fileBuckets.get(rel)).map(Int.box).orNull)
      else {
        val vals = GraftMetaTable.partitionOf(spark, dir, to)
        rel => InternalRow(vals.get(rel).map(Long.box).orNull)
      }
    }

  private def scanOver(statuses: Seq[org.apache.hadoop.fs.FileStatus],
                       partitionOf: org.apache.hadoop.fs.FileStatus => InternalRow) =
    ParquetScan(spark,
      spark.sessionState.newHadoopConfWithOptions(Map.empty),
      new graft.sink.StaticFileIndex(spark, new Path(dir), statuses,
        layoutCols, partitionOf),
      dataSchema = tableSchema,
      readDataSchema = required,
      readPartitionSchema = layoutCols,
      pushedFilters = Array.empty,
      options = CaseInsensitiveStringMap.empty()).toBatch

  override def createReaderFactory(): PartitionReaderFactory =
    scanOver(Nil, _ => InternalRow.empty).createReaderFactory()

  override def commit(end: Offset): Unit = ()
}

object GraftMicroBatchStream {

  /** The `partitionValues` columns of the table at `dir`: `_partition`
    * (Long), plus `_bucket` (Int) on a COMPOSED (time, bucket) table —
    * decided from the DECLARED sidecars (a composed table that is
    * still empty when the stream attaches gets the pair schema its
    * future batches need) OR the current epoch's committed coverage
    * (API-written tables carry no sidecars); a stream's schema is then
    * pinned for its life, as all source schemas are. */
  def layoutColumns(spark: SparkSession, dir: String): StructType = {
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val declared = f.exists(new Path(dir, GraftTable.BucketFile)) &&
      f.exists(new Path(dir, GraftTable.PtimeFile))
    val composed = declared || ManifestSink.currentEpochOpt(spark, dir).exists(e =>
      ManifestSink.bucketSpec(spark, dir, e).isDefined &&
        ManifestSink.ptimeSpec(spark, dir, e).isDefined)
    StructType(StructField("_partition", LongType, nullable = true) +:
      (if (composed) Seq(StructField("_bucket", IntegerType, nullable = true))
      else Nil))
  }
}
