package org.apache.spark.sql.execution.datasources.v2

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.Job
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.catalog.FunctionCatalog
import org.apache.spark.sql.connector.write.{BatchWrite, Write}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter, WriteJobDescription, WriteJobStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Bridge into the `private[sql]` V2 file-write machinery for the
  * graft engine's LAYOUT-PRESERVING replacement writes (round 18):
  * Spark's own `FileWrite.toBatch` hardcodes
  * `partitionColumns = Seq.empty` — a V2 file write can never rotate
  * output files on a partition value — so a row-level DML replacement
  * batch on a laid-out table used to stage key-mixed files and pay a
  * read-back+rewrite relay to restore the layout. This builds the
  * SAME `FileBatchWrite` (same committer, same speculation-safe file
  * commit protocol, same parquet `OutputWriterFactory`) but with a
  * non-empty partition-column list, which flips
  * `FileWriterFactory.createWriter` to Spark's
  * `DynamicPartitionDataSingleWriter`: input rows sorted by the
  * partition columns rotate to a fresh file per value — single-key
  * data files in ONE distributed write, no relay. Partition values
  * become `__p0=<v>/` subdirectories under `path` (the Hive/Iceberg
  * data-layout convention); the synthetic partition columns are NOT
  * written into the files (the writer projects them away), exactly
  * like a Hive-partitioned table.
  *
  * Both entry points take extra write stats trackers: they see every
  * file the writers open and every row they write into it (the
  * writer-side stats, [[graft.catalog.WriterStatsTracker]]). */
object GraftWriteBridge {

  /** `df.write.mode("overwrite").parquet(path)` through Spark's own
    * file writer (`FileFormatWriter`, the same committer and parquet
    * output writers the `DataFrameWriter` path plans), with `trackers`
    * beside the basic one — the Delta transactional-write shape. Runs
    * as one SQL execution over a fresh plan of `df`. */
  def writeParquet(df: DataFrame, path: String,
                   trackers: Seq[WriteJobStatsTracker]): Unit = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = org.apache.spark.sql.classic.Dataset
      .ofRows(spark, df.queryExecution.logical).queryExecution
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(Map.empty)
    val out = new Path(path)
    val fs = out.getFileSystem(hadoopConf)
    if (fs.exists(out)) fs.delete(out, true)
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      jobId = java.util.UUID.randomUUID().toString,
      outputPath = path)
    SQLExecution.withNewExecutionId(qe, Some(s"graft stage $path")) {
      val plan = qe.executedPlan
      FileFormatWriter.write(
        sparkSession = spark,
        plan = plan,
        fileFormat = new ParquetFileFormat(),
        committer = committer,
        outputSpec = FileFormatWriter.OutputSpec(path, Map.empty, plan.output),
        hadoopConf = hadoopConf,
        partitionColumns = Nil,
        bucketSpec = None,
        statsTrackers = new BasicWriteJobStatsTracker(
          new SerializableConfiguration(hadoopConf),
          BasicWriteJobStatsTracker.metrics) +: trackers,
        options = Map.empty)
    }: Unit
  }

  /** Run `batch` over the rows of `df` planned under `decl`'s required
    * distribution and ordering exactly as Spark plans a V2 write
    * (`DistributionAndOrderingUtils.prepareQuery`, the transforms
    * resolved through `functions`): each task writes its rows through
    * the batch's writers and the job commits through the batch. Runs
    * as one SQL execution named `name` over a fresh plan of `df`. */
  def writeV2(df: DataFrame, decl: Write, batch: BatchWrite,
              functions: FunctionCatalog, name: String): Unit = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val query = DistributionAndOrderingUtils.prepareQuery(decl,
      df.queryExecution.analyzed, Some(functions))
    val qe = org.apache.spark.sql.classic.Dataset.ofRows(spark, query).queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      WriteToDataSourceV2Exec(batch, () => (), qe.executedPlan, Nil).executeCollect()
    }: Unit
  }

  /** A parquet [[BatchWrite]] into `path` that writes `dataSchema`
    * columns to files grouped into one-directory-per-distinct
    * `partitionSchema` value. Callers must feed the writers rows
    * shaped `dataSchema ++ partitionSchema` (the partition values
    * computed row-side), CLUSTERED and SORTED by the partition
    * columns — unsorted input still commits correct single-key files
    * but rotates a new file on every value change. An empty
    * `partitionSchema` gives the flat single-directory write Spark's
    * `ParquetWrite` builds. */
  def partitionedParquetWrite(spark: SparkSession,
                              path: String,
                              dataSchema: StructType,
                              partitionSchema: StructType,
                              options: Map[String, String],
                              trackers: Seq[WriteJobStatsTracker] = Nil): BatchWrite = {
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
    val job = Job.getInstance(hadoopConf)
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, new Path(path))
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      jobId = java.util.UUID.randomUUID().toString,
      outputPath = path)
    val factory =
      new ParquetFileFormat().prepareWrite(spark, job, options, dataSchema)
    val dataAttrs = DataTypeUtils.toAttributes(dataSchema)
    val partAttrs = DataTypeUtils.toAttributes(partitionSchema)
    val serConf = new SerializableConfiguration(job.getConfiguration)
    val description = new WriteJobDescription(
      uuid = java.util.UUID.randomUUID().toString,
      serializableHadoopConf = serConf,
      outputWriterFactory = factory,
      allColumns = dataAttrs ++ partAttrs,
      dataColumns = dataAttrs,
      partitionColumns = partAttrs,
      bucketSpec = None,
      path = path,
      customPartitionLocations = Map.empty,
      maxRecordsPerFile = options.get("maxRecordsPerFile").map(_.toLong)
        .getOrElse(spark.sessionState.conf.maxRecordsPerFile),
      timeZoneId = spark.sessionState.conf.sessionLocalTimeZone,
      statsTrackers = new BasicWriteJobStatsTracker(serConf,
        BasicWriteJobStatsTracker.metrics) +: trackers)
    committer.setupJob(job)
    new FileBatchWrite(job, description, committer)
  }
}
