package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sink.{ColumnMapping, ManifestSink}

/** CHANGE FEED BY TABLE NAME — the Iceberg `db.t.changes`
  * metadata-table spelling over the manifest CDF (the r12 VERDICT's
  * "catalog-addressable change feed"): appending `@changes` to a graft
  * table identifier resolves to this table, whose STREAMING scan emits
  * the row-level change feed —
  *
  * {{{
  *   spark.readStream.option("changeFeedKey", "event_id")
  *     .table("graft.`/data/events@changes`")
  * }}}
  *
  * Offsets are committed epochs (the same totally-ordered log every
  * graft stream rides). Each micro-batch (from, to] MATERIALIZES the
  * [[ManifestSink.tableChanges]] diff of its epoch range into a
  * checkpoint-scoped staging dir and plans ordinary parquet partitions
  * over it: the diff is a join (not a file list), so it cannot be
  * served as raw file partitions — staging it once per batch keeps the
  * read path distributed AND makes replays deterministic (a restarted
  * batch re-reads the staged files; recomputing would also be
  * deterministic, since manifests and data files are immutable, but
  * the staged copy makes that property structural). Work per trigger
  * is O(epoch file delta), never O(table). The opening batch (from the
  * initial offset) is the snapshot-as-inserts; a mid-stream CoW
  * UPDATE/MERGE arrives as update_preimage/update_postimage pairs,
  * CoW or MoR deletes as delete rows — Delta's readChangeFeed
  * contract, addressed purely by table name.
  *
  * BATCH reads work too (round 14 — Delta's `table_changes` TVF
  * usable inside any SELECT): either through read options
  * (`spark.read.option("changeFeedKey", k).option("fromEpoch", a)
  * .option("toEpoch", b).table(...)`) or — for pure SQL, where options
  * cannot travel — through the identifier itself:
  *
  * {{{
  *   SELECT * FROM graft.`/data/events@changes:event_id:1-4`
  * }}}
  *
  * spells KEY `event_id`, epoch range (1, 4]. The range defaults to
  * (0, current] — the opening snapshot arrives as inserts, exactly
  * like the stream's first batch. The batch scan materializes the
  * diff once into a session-temp staging dir (reclaimed on exit) and
  * plans ordinary parquet partitions over it — the same O(epoch file
  * delta) discipline as the stream, fully composable under joins,
  * filters, and aggregates. The streaming scan still requires the
  * `changeFeedKey` option or the identifier spelling — the diff is
  * keyed on the table's merge key, which only the caller knows. */
final class GraftChangesTable(dir: String, ident: String,
                              keySpec: Option[String] = None,
                              fromSpec: Option[Int] = None,
                              toSpec: Option[Int] = None)
  extends Table with SupportsRead {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = ident

  override def schema(): StructType = {
    val e = ManifestSink.currentEpoch(spark, dir)
    val base = ManifestSink.commitSchema(spark, dir, e)
      .map(ColumnMapping.stripMapping)
      .getOrElse(ManifestSink.read(spark, dir, e).schema)
    StructType(base.fields ++ Seq(
      StructField("_change_type", StringType, nullable = false),
      StructField("_commit_epoch", IntegerType, nullable = false)))
  }

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val key = Option(options.get("changeFeedKey")).orElse(keySpec).getOrElse(
      throw new IllegalArgumentException(
        s"the $ident change feed needs option(\"changeFeedKey\", <mergeKey>) " +
          "or the `@changes:<key>[:<from>-<to>]` identifier spelling " +
          "— the diff is keyed on the table's merge key"))
    val startEpoch = Option(options.get("startEpoch")).map(_.toInt)
      .orElse(fromSpec).getOrElse(0)
    val endEpoch = Option(options.get("toEpoch")).map(_.toInt).orElse(toSpec)
    val from = Option(options.get("fromEpoch")).map(_.toInt)
      .orElse(fromSpec).getOrElse(0)
    new GraftChangesScanBuilder(spark, dir, key, startEpoch, from, endEpoch,
      schema())
  }
}

/** Scan builder for the change feed with COLUMN PRUNING and FILTER
  * pushdown (VERDICT r14 #6): a `SELECT key, _change_type ... WHERE
  * _change_type = 'delete'` materializes and reads a diff of exactly
  * those columns and (conservatively) those rows — at 100 TB the
  * staged diff shrinks by the projection ratio, and every filter is
  * ALSO left residual so Spark re-evaluates (staging-side filtering
  * is an optimization, never load-bearing). */
final class GraftChangesScanBuilder(spark: SparkSession, dir: String,
                                    key: String, startEpoch: Int,
                                    fromEpoch: Int, toEpoch: Option[Int],
                                    fullSchema: StructType)
  extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {

  private var required: StructType = fullSchema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve feed column order; requiredSchema arrives in query order
    required = StructType(fullSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter]):
      Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter(f => GraftChangesScan.toColumn(f).isDefined)
    filters // all residual: the staged-side filter is advisory
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  override def build(): Scan =
    new GraftChangesScan(spark, dir, key, startEpoch, fromEpoch, toEpoch,
      fullSchema, required, pushed)
}

object GraftChangesTable {
  /** Parse the `<base>@changes[:<key>[:<from>-<to>]]` identifier
    * spelling: returns (base table path, key?, from?, to?). */
  def parseIdent(name: String): (String, Option[String], Option[Int], Option[Int]) = {
    val at = name.lastIndexOf("@changes")
    val base = name.substring(0, at)
    val spec = name.substring(at + "@changes".length).stripPrefix(":")
    if (spec.isEmpty) (base, None, None, None)
    else spec.split(":", 2) match {
      case Array(k) => (base, Some(k), None, None)
      case Array(k, range) =>
        val m = "(\\d+)-(\\d+)".r
        range match {
          case m(a, b) => (base, Some(k), Some(a.toInt), Some(b.toInt))
          case other => throw new IllegalArgumentException(
            s"malformed @changes range '$other' (want <from>-<to>)")
        }
      case _ => (base, None, None, None)
    }
  }
}

final class GraftChangesScan(spark: SparkSession, dir: String, key: String,
                             startEpoch: Int, fromEpoch: Int,
                             toEpoch: Option[Int], fullSchema: StructType,
                             required: StructType,
                             pushed: Array[org.apache.spark.sql.sources.Filter])
  extends Scan with org.apache.spark.sql.connector.read.Batch {

  override def readSchema(): StructType = required
  override def description(): String =
    s"GraftChangesScan($dir, key=$key, cols=${required.fieldNames.mkString(",")}" +
      s", pushed=${pushed.mkString(",")})"

  // the STREAM stages full-schema diffs (its range-keyed dirs are
  // replay-reused across runs, so their shape must not depend on one
  // query's projection); the pruned `required` projects at read time
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftCdfMicroBatchStream(spark, dir, key, startEpoch, fullSchema,
      required, checkpointLocation)

  // ------------------------------------------------------------- batch read
  // (Delta's table_changes surface): materialize (from, to]'s diff —
  // already PROJECTED to the required columns and pre-filtered by the
  // pushed predicates (residuals re-check them) — once under the
  // TABLE ROOT's `_changes/` staging area (ADVICE r14: a driver-local
  // temp dir only works at local[*]; executors on a real cluster must
  // write somewhere every node and the driver both see, and the table
  // root is by construction on that filesystem), then serve it as
  // ordinary parquet partitions, composable under any SELECT. Staged
  // dirs are reclaimed at JVM exit AND by vacuum's age-graced sweep —
  // a long session cannot accumulate them past one retention pass.

  override def toBatch: org.apache.spark.sql.connector.read.Batch = this

  private lazy val stagedBatch: Seq[org.apache.hadoop.fs.FileStatus] = {
    val to = toEpoch.getOrElse(ManifestSink.currentEpoch(spark, dir))
    val from = math.max(fromEpoch, 0)
    if (to <= from) Nil
    else {
      val p = new Path(GraftChangesScan.stageRootOf(dir),
        s"$from-$to.${java.util.UUID.randomUUID.toString.replace("-", "").take(12)}")
      GraftChangesScan.registerForSweep(spark, p)
      val diff = ManifestSink.tableChanges(spark, dir, key, from, to)
      val filtered = pushed.flatMap(GraftChangesScan.toColumn)
        .foldLeft(diff)(_ filter _)
      val projected =
        if (required.isEmpty)
          // a COUNT(*) prunes every column — parquet can't write an
          // empty schema, so stage one surrogate bit (row counts come
          // from the footers; the read side still projects to zero)
          filtered.select(org.apache.spark.sql.functions.lit(true)
            .as("__present"))
        else filtered.select(required.fieldNames.toSeq
          .map(org.apache.spark.sql.functions.col): _*)
      projected.write.mode("overwrite").parquet(p.toString)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
    }
  }

  private def batchScan(statuses: Seq[org.apache.hadoop.fs.FileStatus]) =
    ParquetScan(spark,
      spark.sessionState.newHadoopConfWithOptions(Map.empty),
      new graft.sink.StaticFileIndex(spark,
        GraftChangesScan.stageRootOf(dir), statuses),
      dataSchema =
        if (required.isEmpty)
          StructType(Seq(org.apache.spark.sql.types.StructField(
            "__present", org.apache.spark.sql.types.BooleanType,
            nullable = false)))
        else required,
      readDataSchema = required,
      readPartitionSchema = StructType(Nil),
      pushedFilters = Array.empty,
      options = CaseInsensitiveStringMap.empty()).toBatch

  override def planInputPartitions(): Array[InputPartition] =
    if (stagedBatch.isEmpty) Array.empty
    else batchScan(stagedBatch).planInputPartitions()

  override def createReaderFactory(): PartitionReaderFactory =
    batchScan(stagedBatch).createReaderFactory()
}

object GraftChangesScan {

  /** Batch change-feed staging area: a `_changes/` dir beside the
    * table's own metadata — shared storage wherever the table is
    * (never `java.io.tmpdir`). Manifest reads can't see it (they read
    * listed files only) and the orphan sweep can't either (it claims
    * `data-epoch=` dirs only); [[ManifestSink.vacuum]] reclaims aged
    * entries explicitly. */
  def stageRootOf(dir: String): Path = new Path(dir, "_changes")

  /** The pushed-filter shapes the staging write pre-applies (always
    * ALSO residual — Spark re-evaluates them over the staged rows).
    * Pure public-API Column algebra; unconvertible shapes stage
    * unfiltered. */
  private[catalog] def toColumn(f: org.apache.spark.sql.sources.Filter):
      Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources
    f match {
      case sources.EqualTo(c, v) => Some(col(c) === lit(v))
      case sources.GreaterThan(c, v) => Some(col(c) > lit(v))
      case sources.GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
      case sources.LessThan(c, v) => Some(col(c) < lit(v))
      case sources.LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
      case sources.In(c, vs) if vs.nonEmpty =>
        Some(col(c).isin(vs.toIndexedSeq: _*))
      case sources.IsNull(c) => Some(col(c).isNull)
      case sources.IsNotNull(c) => Some(col(c).isNotNull)
      case sources.And(l, r) =>
        for (a <- toColumn(l); b <- toColumn(r)) yield a && b
      case sources.Or(l, r) =>
        for (a <- toColumn(l); b <- toColumn(r)) yield a || b
      case _ => None
    }
  }

  private val sweepRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val hookInstalled = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Best-effort same-JVM reclamation at exit; crashed sessions leave
    * dirs for vacuum's age-graced `_changes` sweep. */
  private[catalog] def registerForSweep(spark: SparkSession, p: Path): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    sweepRegistered.add(p.toString): Unit
    if (hookInstalled.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        sweepRegistered.forEach { s =>
          try {
            val q = new Path(s)
            q.getFileSystem(conf).delete(q, true): Unit
          } catch { case _: Throwable => () }
        }
      }, "graft-cdf-batch-stage-sweep"))
  }
}

/** The epoch-offset CDF stream (see [[GraftChangesTable]]). Staged
  * diffs keep the FULL feed schema (`fullSchema`) so replays reuse
  * them regardless of any one query's projection; the pruned
  * `required` projects at parquet-read time. */
final class GraftCdfMicroBatchStream(spark: SparkSession, dir: String,
                                     key: String, startEpoch: Int,
                                     fullSchema: StructType,
                                     required: StructType,
                                     checkpointLocation: String)
  extends EpochStream(spark, dir, startEpoch) {

  private val stageRoot = s"$checkpointLocation/graft-cdf"

  /** Materialize (from, to]'s diff once (deterministic path keyed by
    * the range; a replayed batch reuses the staged files), then plan
    * parquet partitions over it. */
  private def stagedDir(from: Int, to: Int): Path = {
    val p = new Path(s"$stageRoot/$from-$to")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(p, "_SUCCESS"))) {
      ManifestSink.tableChanges(spark, dir, key, math.max(from, 0), to)
        .write.mode("overwrite").parquet(p.toString)
    }
    p
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[EpochOffset].epoch
    val to = end.asInstanceOf[EpochOffset].epoch
    if (to <= from) return Array.empty
    val p = stagedDir(from, to)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = fs.listStatus(p).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
    if (statuses.isEmpty) Array.empty
    else scanOver(statuses).planInputPartitions()
  }

  private def scanOver(statuses: Seq[org.apache.hadoop.fs.FileStatus]) =
    ParquetScan(spark,
      spark.sessionState.newHadoopConfWithOptions(Map.empty),
      new graft.sink.StaticFileIndex(spark, new Path(stageRoot), statuses),
      dataSchema = fullSchema,
      readDataSchema = required,
      readPartitionSchema = StructType(Nil),
      pushedFilters = Array.empty,
      options = CaseInsensitiveStringMap.empty()).toBatch

  override def createReaderFactory(): PartitionReaderFactory =
    scanOver(Nil).createReaderFactory()

  /** Committed batches never replay — their staged diffs are dead
    * weight; sweep every range ending at or before the committed
    * offset. */
  override def commit(end: Offset): Unit = {
    val committed = end.asInstanceOf[EpochOffset].epoch
    val root = new Path(stageRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) {
      fs.listStatus(root).toSeq.foreach { st =>
        st.getPath.getName.split("-") match {
          case Array(_, to) if to.toIntOption.exists(_ <= committed) =>
            fs.delete(st.getPath, true): Unit
          case _ => ()
        }
      }
    }
  }
}
