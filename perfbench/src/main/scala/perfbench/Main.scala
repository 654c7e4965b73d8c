package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. Its constructor sets up (input
  * generation, preload, warm-up); the runner then calls `round` until the
  * timed operations have taken the run's seconds, then `verify`. */
trait Workload {
  /** Runs one whole round of operations through `rec.op`. */
  def round(): Unit
  /** Final checks against the reference model; returns the failures. */
  def verify(): Seq[String]
  /** Checks made during the rounds that failed. */
  def failures: Seq[String]
  /** The workload's catalog tables, as SQL names. */
  def catalogTables: Seq[String]
  /** Directories holding the workload's tables (for stored bytes). */
  def tableRoots: Seq[File]
  /** Directories the program writes to (tables, checkpoints, indexes). */
  def storageRoots: Seq[File]
  /** Live rows across the workload's tables at the end. */
  def liveRows: Long
  /** Input rows the write operations of the timed phase carried. */
  def inputRows: Long
  /** Clears counters that only the timed phase should report. */
  def startTimed(): Unit
  /** Workload-specific per-layer metrics of a traced run. */
  def layerMetrics(): Seq[(String, String, Double)]
}

object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        threads: Int, dir: File)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("threads").toInt, new File(need("dir")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val env = Env.stamp(a.threads)
    println(s"ENV $env")
    if (!Env.quiet(env)) System.err.println(s"perfbench: busy machine, figures may be off: $env")

    val spark = SparkSession.builder()
      .master(s"local[${a.threads}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.dir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.dir, "warehouse").getPath)
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark, a.threads, a.trace)
    rec.sample("setup.session_ms", (System.currentTimeMillis() - jvmStart).toDouble)

    val w: Workload = a.workload match {
      case "ingest" => new Ingest(spark, rec, a.seed, a.dir)
      case "serve" => new Serve(spark, rec, a.seed, a.dir)
      case "curate" => new Curate(spark, rec, a.seed, a.dir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    rec.reset()
    w.startTimed()
    val meter = new StorageMeter(w.storageRoots)
    rec.afterWrite = () => meter.update()
    while (rec.busySeconds < a.seconds) w.round()
    rec.afterWrite = () => ()
    rec.drain()
    val busy = rec.busySeconds
    val ops = rec.ops.toSeq
    val v0 = System.nanoTime()
    val failures = w.failures ++ w.verify()
    val verifyS = (System.nanoTime() - v0) / 1e9
    failures.take(20).foreach(f => System.err.println(s"perfbench: CHECK FAILED: $f"))

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    def put(n: String, v: Double, unit: String): Unit = metrics(n) = (v, unit)
    if (!a.trace) {
      put("setup_s", setupS, "s")
      put("ops_per_s", ops.size / busy, "1/s")
      put("write_p50_ms", Recorder.median(ops.filter(_.kind == "write").map(_.ms)), "ms")
      put("read_p50_ms", Recorder.median(ops.filter(_.kind == "read").map(_.ms)), "ms")
      put("rss_peak_mb", Env.rssPeakMb, "MB")
      put("stored_bytes_per_row",
        w.tableRoots.map(StorageMeter.bytes).sum.toDouble / math.max(1L, w.liveRows), "B")
      put("written_bytes_per_row", meter.writtenBytes.toDouble / math.max(1L, w.inputRows), "B")
    } else {
      val writes = math.max(1, ops.count(_.kind == "write")).toDouble
      put("trace.ops_per_s", ops.size / busy, "1/s")
      Seq("session", "generate", "preload", "warmup").foreach(p =>
        put(s"setup.${p}_ms", rec.samples.get(s"setup.${p}_ms").map(_.sum).getOrElse(0.0), "ms"))
      put("sink.files_per_write", meter.dataFiles / writes, "count")
      put("sink.meta_bytes_per_write", meter.metaBytes / writes, "B")
      put("sink.snapshot_loads_per_op", ops.map(_.snapshotLoads).sum.toDouble / ops.size, "count")
      put("sink.stats_loads_per_op", ops.map(_.statsLoads).sum.toDouble / ops.size, "count")
      put("sink.live_files", w.catalogTables.map(rec.plannedFiles).sum.toDouble, "count")
      // over all reads: files skipped over files live, not a median of
      // per-read ratios (most read classes cannot skip at all)
      val planned = rec.samples.getOrElse("catalog.files_planned", Nil).sum
      val live = rec.samples.getOrElse("catalog.files_live", Nil).sum
      put("catalog.files_planned_per_read", planned / math.max(1, ops.count(_.kind == "read")), "count")
      put("catalog.prune_ratio", if (live > 0) 1.0 - planned / live else 0.0, "ratio")
      (rec.planMetrics() ++ rec.execMetrics() ++ w.layerMetrics()).foreach { case (n, u, v) => put(n, v, u) }
      val unknown = metrics.keySet -- Layers.all.map(_._1)
      require(unknown.isEmpty, s"metrics missing from the per-layer list: $unknown")
      Layers.all.foreach { case (n, u) => if (!metrics.contains(n)) put(n, 0.0, u) }
      val traceFile = new File(a.dir.getParentFile, s"trace-${a.workload}-${a.seed}.jsonl")
      val out = new java.io.PrintWriter(traceFile)
      try rec.spansJson.foreach(out.println) finally out.close()
      System.err.println(s"perfbench: ${rec.spans.size} spans written to $traceFile")
    }
    rec.stop()
    val s0 = System.nanoTime()
    spark.streams.active.foreach(_.stop())
    spark.stop()
    System.err.println(f"perfbench: ${a.workload} set-up $setupS%.1f s, timed $busy%.1f s busy " +
      f"in ${ops.size} ops, checks $verifyS%.1f s, stop ${(System.nanoTime() - s0) / 1e9}%.1f s")
    val body = metrics.map { case (n, (v, u)) => s""""$n":{"value":${fmt(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")
    println(s"""{"correct":${failures.isEmpty},"attempted":${ops.size},"failed":0,"metrics":$body}""")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Every per-layer metric a traced run prints, with its unit. A workload
  * that does not reach a layer reports 0 for it. */
object Layers {
  private val exec = Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "task_run_ms" -> "ms", "task_cpu_ms" -> "ms", "gc_ms" -> "ms", "shuffle_write_bytes" -> "B",
    "shuffle_read_bytes" -> "B", "spill_bytes" -> "B", "core_util" -> "ratio")
  val all: Seq[(String, String)] = Seq(
    "trace.ops_per_s" -> "1/s",
    "avro.decode_ms" -> "ms",
    "streaming.raw.trigger_ms" -> "ms", "streaming.agg.trigger_ms" -> "ms",
    "streaming.raw.add_batch_ms" -> "ms", "streaming.agg.add_batch_ms" -> "ms",
    "streaming.planning_ms" -> "ms", "streaming.wal_ms" -> "ms",
    "streaming.agg.state_rows" -> "count", "streaming.agg.state_bytes" -> "B",
    "streaming.agg.state_commit_ms" -> "ms", "streaming.agg.late_rows_dropped" -> "count",
    "sink.jobs_per_write" -> "count", "sink.files_per_write" -> "count",
    "sink.meta_bytes_per_write" -> "B", "sink.driver_ms_per_write" -> "ms",
    "sink.snapshot_loads_per_op" -> "count", "sink.stats_loads_per_op" -> "count",
    "sink.live_files" -> "count",
    "catalog.plan_ms_per_read" -> "ms", "catalog.plan_ms_per_write" -> "ms",
    "catalog.files_planned_per_read" -> "count", "catalog.prune_ratio" -> "ratio",
    "plans.topk_rows_shuffled" -> "count", "plans.topk_rows_pruned" -> "count") ++
    Seq("read", "write").flatMap(k => exec.map { case (n, u) => s"exec.$k.$n" -> u }) ++ Seq(
    "llm.dedup_ms" -> "ms", "llm.filter_ms" -> "ms", "llm.ann_append_ms" -> "ms",
    "llm.ann_probe_ms" -> "ms", "llm.dedup_candidates" -> "count", "llm.dedup_verified" -> "count",
    "setup.session_ms" -> "ms", "setup.generate_ms" -> "ms", "setup.preload_ms" -> "ms",
    "setup.warmup_ms" -> "ms")
}

/** The run's environment stamp: the signals that say whether anything
  * else was competing for the machine while it ran. */
object Env {
  private def slurp(p: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
    catch { case _: Throwable => "" }

  /** Other JVMs on the machine, not counting this process and its ancestors. */
  def otherJvms(): Int = {
    val ancestors = mutable.Set[String]()
    var pid = ProcessHandle.current().pid().toString
    var guard = 0
    while (pid.nonEmpty && pid != "0" && guard < 64) {
      ancestors += pid
      val stat = slurp(s"/proc/$pid/stat")
      pid = if (stat.isEmpty) "" else stat.substring(stat.lastIndexOf(')') + 1).trim.split(" ").drop(1).headOption.getOrElse("")
      guard += 1
    }
    Option(new File("/proc").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.forall(_.isDigit) && !ancestors.contains(f.getName))
      .count(f => slurp(s"${f.getPath}/cmdline").split('\u0000').headOption.exists(_.endsWith("java")))
  }

  def rssPeakMb: Double =
    slurp("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def stamp(threads: Int): String = {
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val jvms = otherJvms()
    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val busy = jvms > 0 || load > threads * 0.5
    f"""{"load_avg":$load%.2f,"other_jvms":$jvms,"task_threads":$threads,"heap_mb":$heapMb,"quiet":${!busy}}"""
  }

  def quiet(stamp: String): Boolean = stamp.contains("\"quiet\":true")
}
