package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Times the benchmark's operations and, in a traced run, records what
  * each layer did during them. Everything is read from outside the
  * program: the benchmark's own clocks, Spark's listener events, query
  * plans' SQL metrics, streaming progress, and the program's public
  * planning counters. */
final class Recorder(spark: SparkSession, val threads: Int, val traced: Boolean) {
  import Recorder._

  val ops = mutable.ArrayBuffer[Op]()
  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  /** Per-layer values the workload measures itself (avro decode, llm
    * steps, planning counters), keyed by metric name. */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def sample(name: String, v: Double): Unit = samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  private val sc = spark.sparkContext

  /** Runs `body` as one timed operation of `kind` ("read" or "write"). */
  def op[T](kind: String, name: String, table: String = null)(body: => T): T = {
    val id = ops.size
    sc.setLocalProperty(OpKey, s"$kind:$id")
    val snap0 = graft.sink.SnapshotCache.snapshotLoads
    val stats0 = graft.sink.SnapshotCache.statsLoads
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try span(name)(body) finally sc.setLocalProperty(OpKey, null)
    val t1 = System.nanoTime()
    ops += Op(id, kind, name, t0, t1, wall0, wall0 + (t1 - t0) / 1000000L,
      graft.sink.SnapshotCache.snapshotLoads - snap0, graft.sink.SnapshotCache.statsLoads - stats0)
    if (kind == "write") afterWrite()
    if (traced && kind == "read" && table != null) {
      // files the read planned, against all live files of its table
      val planned = graft.catalog.GraftTable.lastPlannedFiles
      val live = plannedFiles(table)
      if (planned >= 0 && live > 0) {
        sample("catalog.files_planned", planned)
        sample("catalog.files_live", live)
      }
    }
    r
  }

  /** Data files an unfiltered scan of `table` plans: the live files. */
  def plannedFiles(table: String): Int = {
    spark.sql(s"SELECT * FROM $table").queryExecution.toRdd.partitions
    graft.catalog.GraftTable.lastPlannedFiles
  }

  /** Called after every write, outside its timing (the storage meter). */
  var afterWrite: () => Unit = () => ()

  /** A span inside the current operation (or a free-standing one). */
  def span[T](name: String)(body: => T): T = {
    if (!traced) return body
    val id = spans.size
    val parent = open.headOption.getOrElse(-1)
    spans += Span(id, ops.size, parent, name, System.nanoTime(), 0L)
    open = id :: open
    try body
    finally {
      open = open.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }

  /** Seconds the timed operations took, excluding the benchmark's own checks. */
  def busySeconds: Double = ops.iterator.map(o => (o.endNs - o.startNs) / 1e9).sum

  // ------------------------------------------------ listener-side records

  private val jobs = mutable.HashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val queries = mutable.ArrayBuffer[Query]()
  val progress = mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  @volatile private var drainSeen = false

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      if (p.exists(_.getProperty(OpKey) == DrainTag)) { drainSeen = true; return }
      val tag = p.flatMap(x => Option(x.getProperty(OpKey)))
      val stream = p.exists(x => x.getProperty("sql.streaming.queryId") != null)
      jobs(e.jobId) = new Job(tag, stream, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuMs += m.executorCpuTime / 1e6
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      if (phases.isEmpty) return
      val start = phases.values.map(_.startTimeMs).min
      val planMs = phases.values.map(_.durationMs).sum.toDouble
      val nodes = try planNodes(qe.executedPlan) catch { case _: Throwable => Nil }
      def metric(n: SparkPlan, k: String) = n.metrics.get(k).map(_.value).getOrElse(0L)
      // the partial (pre-exchange) top-k pass is the node that prunes
      val topk = nodes.filter(_.metrics.contains("prunedRows"))
      // the dedup verification filter: its input rows are the candidate
      // pairs, its output the pairs at or above the Jaccard threshold
      // (the optimizer may fold it into the join that attaches the sets)
      val verify = nodes.filter {
        case f: org.apache.spark.sql.execution.FilterExec => f.condition.sql.contains(Verifier)
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
          j.condition.exists(_.sql.contains(Verifier))
        case _ => false
      }
      val candidates = verify.map(f => childRows(f)).sum
      val verified = verify.map(f => metric(f, "numOutputRows")).sum
      synchronized {
        queries += Query(start, planMs,
          topk.map(metric(_, "prunedRows")).sum,
          // rows the partial top-k pass let into the exchange
          topk.map(n => metric(n, "numOutputRows")).sum,
          candidates, verified)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def childRows(p: SparkPlan): Long = {
    var n: SparkPlan = p
    while (n.children.nonEmpty) {
      n = n.children.head match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case q: QueryStageExec => q.plan
        case c => c
      }
      n.metrics.get("numOutputRows").foreach(m => return m.value)
    }
    0L
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (traced) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until the listener buses have delivered everything posted so
    * far: a marker job goes through the job bus; the query and streaming
    * buses get a short grace after it. */
  def drain(): Unit = if (traced) {
    drainSeen = false
    sc.setLocalProperty(OpKey, DrainTag)
    spark.range(1).count()
    sc.setLocalProperty(OpKey, null)
    val deadline = System.currentTimeMillis() + 10000
    while (!drainSeen && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(500)
  }

  /** Forgets everything recorded so far (the warm-up), keeping set-up samples. */
  def reset(): Unit = {
    drain()
    synchronized {
      ops.clear(); spans.clear(); jobs.clear(); stageJob.clear(); queries.clear(); progress.clear()
      samples.filterInPlace((k, _) => k.startsWith("setup."))
    }
  }

  def stop(): Unit = if (traced) {
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  // ------------------------------------------------------------ per layer

  private def opOfJob(j: Job): Option[Op] =
    j.tag.flatMap(t => t.split(":") match {
      case Array(_, id) => ops.lift(id.toInt)
      case _ => None
    }).orElse(
      // streaming jobs run on the query threads: they belong to the
      // write operation that was waiting for them
      if (j.stream) ops.find(o => o.kind == "write" && j.startMs >= o.startMs && j.startMs <= o.endMs + 5)
      else None)

  /** Job, stage, task and Catalyst figures per operation kind. */
  def execMetrics(): Seq[(String, String, Double)] = synchronized {
    val byKind = jobs.values.toSeq.flatMap(j => opOfJob(j).map(o => (o, j))).groupBy(_._1.kind)
    Seq("read", "write").flatMap { kind =>
      val kops = ops.filter(_.kind == kind)
      val n = math.max(1, kops.size).toDouble
      val js = byKind.getOrElse(kind, Nil).map(_._2)
      val wallMs = kops.iterator.map(o => (o.endNs - o.startNs) / 1e6).sum
      Seq(
        (s"exec.$kind.jobs", "count", js.size / n),
        (s"exec.$kind.stages", "count", js.map(_.stages).sum / n),
        (s"exec.$kind.tasks", "count", js.map(_.tasks).sum / n),
        (s"exec.$kind.task_run_ms", "ms", js.map(_.runMs).sum / n),
        (s"exec.$kind.task_cpu_ms", "ms", js.map(_.cpuMs).sum / n),
        (s"exec.$kind.gc_ms", "ms", js.map(_.gcMs).sum / n),
        (s"exec.$kind.shuffle_write_bytes", "B", js.map(_.shuffleWrite).sum / n),
        (s"exec.$kind.shuffle_read_bytes", "B", js.map(_.shuffleRead).sum / n),
        (s"exec.$kind.spill_bytes", "B", js.map(_.spill).sum / n),
        (s"exec.$kind.core_util", "ratio",
          if (wallMs <= 0) 0.0 else js.map(_.runMs).sum / (wallMs * threads)))
    }
  }

  /** Catalyst time per op kind, and the write time neither a Spark job
    * nor a Catalyst phase covers: Spark-driver-side commit and manifest work. */
  def planMetrics(): Seq[(String, String, Double)] = synchronized {
    def inOp(q: Query) = ops.find(o => q.startMs >= o.startMs && q.startMs <= o.endMs)
    val perOp = queries.flatMap(q => inOp(q).map(o => o.id -> q)).groupBy(_._1).map {
      case (id, qs) => id -> qs.map(_._2).toSeq
    }
    def plan(kind: String) = {
      val kops = ops.filter(_.kind == kind)
      kops.map(o => perOp.getOrElse(o.id, Nil).map(_.planMs).sum).sum / math.max(1, kops.size)
    }
    val writes = ops.filter(_.kind == "write")
    val driverMs = writes.map { o =>
      val wall = (o.endNs - o.startNs) / 1e6
      val ivs = jobs.values.filter(j => opOfJob(j).contains(o) && j.endMs > 0)
        .map(j => (math.max(j.startMs, o.startMs), math.min(j.endMs, o.endMs))).toSeq
      val jobMs = unionMs(ivs)
      val planMs = perOp.getOrElse(o.id, Nil).map(_.planMs).sum
      math.max(0.0, wall - jobMs - planMs)
    }
    val writeJobs = jobs.values.count(j => opOfJob(j).exists(_.kind == "write"))
    val readQs = ops.filter(_.kind == "read").flatMap(o => perOp.getOrElse(o.id, Nil))
    val allQs = perOp.values.flatten.toSeq
    Seq(
      ("catalog.plan_ms_per_read", "ms", plan("read")),
      ("catalog.plan_ms_per_write", "ms", plan("write")),
      ("sink.jobs_per_write", "count", writeJobs.toDouble / math.max(1, writes.size)),
      ("sink.driver_ms_per_write", "ms", median(driverMs.toSeq)),
      ("plans.topk_rows_pruned", "count", readQs.map(_.topkPruned).sum.toDouble),
      ("plans.topk_rows_shuffled", "count", readQs.map(_.topkOut).sum.toDouble),
      ("llm.dedup_candidates", "count", allQs.map(_.candidates).sum.toDouble),
      ("llm.dedup_verified", "count", allQs.map(_.verified).sum.toDouble))
  }

  def spansJson: Iterator[String] = spans.iterator.map { s =>
    s"""{"span":${s.id},"op":${s.op},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }
}

object Recorder {
  val OpKey = "perfbench.op"
  /** The program's Jaccard kernel, by its SQL name. */
  private val Verifier = "sorted_intersect_size"
  private val DrainTag = "drain"

  final case class Op(id: Int, kind: String, name: String, startNs: Long, endNs: Long,
                      startMs: Long, endMs: Long, snapshotLoads: Long, statsLoads: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
  final case class Span(id: Int, op: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  final class Job(val tag: Option[String], val stream: Boolean, val startMs: Long) {
    var endMs = -1L; var stages = 0; var tasks = 0; var runMs = 0.0; var cpuMs = 0.0; var gcMs = 0.0
    var shuffleWrite = 0.0; var shuffleRead = 0.0; var spill = 0.0
  }
  final case class Query(startMs: Long, planMs: Double, topkPruned: Long, topkOut: Long,
                         candidates: Long, verified: Long)

  /** Every physical node of a plan, looking through adaptive execution
    * and query stages, subqueries included. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer[SparkPlan]()
    def walk(n: SparkPlan): Unit = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other =>
        out += other
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(p)
    out.toSeq
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def unionMs(ivs: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    ivs.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Files under a directory tree: relative path -> size. */
  def files(root: File): Map[String, Long] = {
    val out = mutable.HashMap[String, Long]()
    def walk(f: File, rel: String): Unit =
      Option(f.listFiles()).getOrElse(Array.empty).foreach { c =>
        val r = if (rel.isEmpty) c.getName else s"$rel/${c.getName}"
        if (c.isDirectory) walk(c, r) else out(r) = c.length()
      }
    walk(root, "")
    out.toMap
  }
}

/** Bytes a workload writes to storage, found by comparing the files under
  * its roots before and after each write: every file that is new, or
  * whose size changed, was written. */
final class StorageMeter(roots: Seq[File]) {
  private var seen: Map[String, Long] = scan()
  var writtenBytes = 0L
  var dataFiles = 0L
  var metaBytes = 0L

  private def scan(): Map[String, Long] =
    roots.flatMap(r => Recorder.files(r).map { case (p, s) => s"${r.getPath}/$p" -> s }).toMap

  /** Accounts for everything written since the last call. */
  def update(): Unit = {
    val now = scan()
    now.foreach { case (p, s) =>
      if (!seen.get(p).contains(s)) {
        writtenBytes += s
        if (StorageMeter.isData(p)) dataFiles += 1 else metaBytes += s
      }
    }
    seen = now
  }
}

object StorageMeter {
  /** Data files: parquet parts, not their checksums and not the stats
    * sidecars; everything else (manifests, commit markers, stats,
    * checksums) is metadata. */
  def isData(path: String): Boolean = {
    val parts = path.split('/')
    path.endsWith(".parquet") && !parts.last.startsWith(".") &&
      !parts.exists(p => p.startsWith("stats-") || p.startsWith("_"))
  }

  def bytes(root: File): Long = Recorder.files(root).valuesIterator.sum
}
