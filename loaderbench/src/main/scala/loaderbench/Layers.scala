package loaderbench

import java.nio.file.{Files, Path}

/** The per-layer metrics of a traced window. Counts, bytes and seconds are
  * per op (one load, one op-log entry, one declared query) unless the name
  * ends in `_end` or is a fraction; layers a workload does not touch read 0.
  */
object Layers {
  val Formats = Seq("delta", "iceberg")
  /** Verbs per format, as the workloads name them in their op records. */
  val Verbs: Map[String, Seq[String]] = Map(
    "delta" -> Seq("load", "append", "merge", "delete_dv", "update_dv", "compact",
      "lookup", "aggregate", "time_travel"),
    "iceberg" -> Seq("load", "append", "upsert", "delete_dv", "update_dv", "compact",
      "lookup", "aggregate", "time_travel"))

  val Loader = Seq("sources.copy_out_s", "sources.copy_out_bytes", "sources.decode_s",
    "sources.to_frame_s", "sources.rows", "sources.alloc_bytes_per_row",
    "sinks.encode_s", "probe.parquet_to_delta_s")

  def names: Seq[String] =
    Loader ++
    Seq("sinks.publish_s", "sinks.publish_bytes", "sinks.files_published",
      "sinks.commit_s", "sinks.commits", "sinks.commit_conflicts",
      "sinks.commit_attempts_per_commit") ++
    (for (f <- Formats; v <- Verbs(f); m <- Seq("s", "driver_only_s")) yield s"sinks.$f.$v.$m") ++
    Seq("sinks.store_read_ops", "sinks.store_list_ops", "sinks.log_bytes_end",
      "sinks.write_amp", "sinks.live_files_end",
      "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_only_s", "spark.plan_s",
      "spark.executor_busy_frac", "spark.task_run_s", "spark.task_cpu_s", "spark.task_gc_s",
      "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes") ++
    DeclaredQueries.Names.flatMap(q => Seq(s"queries.$q.s", s"queries.$q.jobs", s"queries.$q.driver_only_s")) ++
    Seq("jvm.gc_s", "jvm.alloc_bytes", "jvm.live_heap_mb", "jvm.peak_live_heap_mb",
      "trace.op_gmean_s", "trace.ops_per_s", "checks.error_rate")

  def unit(name: String): String =
    if (name.endsWith("_per_s")) "1/s"
    else if (name.endsWith("_s") || name.endsWith(".s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_bytes") || name.endsWith("bytes_end") || name.endsWith("bytes_per_row")) "bytes"
    else if (name.endsWith("_frac") || name.endsWith("_rate") || name.endsWith("_amp") ||
      name.endsWith("_per_commit")) "ratio"
    else "count"

  /** Wall time of `op` minus the time some Spark job of it was running. */
  private def driverOnly(op: OpRec, jobs: Seq[JobRec]): Double = {
    val iv = jobs.map(j => (math.max(j.startNs, op.startNs), math.min(j.endNs, op.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (op.endNs - op.startNs - covered) / 1e9
  }

  def apply(ops: Seq[OpRec], jobs0: Seq[JobRec],
      store: Map[String, Long], planS: Double, gcS: Double, allocB: Long, nproc: Int,
      extra: Map[String, Double], ctx: Ctx): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    val wallS = if (ops.isEmpty) 1.0 else (ops.last.endNs - ops.head.startNs) / 1e9
    // jobs of the traced window only (probes run after it)
    val jobs = jobs0.filter(j => j.endNs > 0 && ops.nonEmpty &&
      j.startNs >= ops.head.startNs && j.startNs <= ops.last.endNs)
    def jobsOf(op: OpRec) = jobs.filter(j => j.startNs >= op.startNs && j.startNs <= op.endNs)
    def perOp(f: JobRec => Long) = jobs.map(f).sum / n
    def st(k: String) = store.getOrElse(k, 0L).toDouble
    def verbStats(sel: OpRec => Boolean): (Double, Double) = {
      val xs = ops.filter(o => o.ok && sel(o))
      if (xs.isEmpty) (0.0, 0.0)
      else (xs.map(_.seconds).sum / xs.size, xs.map(o => driverOnly(o, jobs)).sum / xs.size)
    }
    val verbs = for (f <- Formats; v <- Verbs(f); (s, d) = verbStats(o => o.format == f && o.verb == v);
      (m, x) <- Seq("s" -> s, "driver_only_s" -> d)) yield s"sinks.$f.$v.$m" -> x
    val queries = DeclaredQueries.Names.flatMap { q =>
      val xs = ops.filter(o => o.ok && o.verb == q)
      val (s, d) = verbStats(_.verb == q)
      val j = if (xs.isEmpty) 0.0 else xs.map(o => jobsOf(o).size).sum.toDouble / xs.size
      Seq(s"queries.$q.s" -> s, s"queries.$q.jobs" -> j, s"queries.$q.driver_only_s" -> d)
    }
    val commits = st("commit_attempts") - st("commit_conflicts")
    val base = Map(
      "sinks.publish_s" -> st("publish_ns") / 1e9 / n,
      "sinks.publish_bytes" -> st("publish_bytes") / n,
      "sinks.files_published" -> (st("publishes") + st("server_object_puts")) / n,
      "sinks.commit_s" -> st("commit_ns") / 1e9 / n,
      "sinks.commits" -> commits / n,
      "sinks.commit_conflicts" -> st("commit_conflicts") / n,
      "sinks.commit_attempts_per_commit" -> (if (commits > 0) st("commit_attempts") / commits else 0.0),
      // the server sees every read, the driver's and the executors' alike
      "sinks.store_read_ops" -> st("server_object_gets") / n,
      "sinks.store_list_ops" -> st("lists") / n,
      "spark.jobs" -> jobs.size / n,
      "spark.stages" -> perOp(_.stages.get.toLong),
      "spark.tasks" -> perOp(_.tasks.get.toLong),
      "spark.driver_only_s" -> ops.map(o => driverOnly(o, jobs)).sum / n,
      "spark.plan_s" -> planS / n,
      "spark.executor_busy_frac" -> jobs.map(_.runMs.get).sum / 1000.0 / (wallS * nproc),
      "spark.task_run_s" -> perOp(_.runMs.get) / 1000.0,
      "spark.task_cpu_s" -> perOp(_.cpuNs.get) / 1e9,
      "spark.task_gc_s" -> perOp(_.gcMs.get) / 1000.0,
      "spark.shuffle_read_bytes" -> perOp(_.shuffleRead.get),
      "spark.shuffle_write_bytes" -> perOp(_.shuffleWrite.get),
      "spark.spill_bytes" -> perOp(_.spill.get),
      "jvm.gc_s" -> gcS / n,
      "jvm.alloc_bytes" -> allocB / n,
      "checks.error_rate" -> ctx.failures.size.toDouble / math.max(1L, ctx.checks + ops.size))
    val all = names.map(_ -> 0.0).toMap ++ base ++ verbs ++ queries ++ extra
    require(all.keySet == names.toSet, s"unexpected layer metrics: ${all.keySet -- names}")
    all
  }
}

object TraceFile {
  /** Spans, ops and layer metrics of a traced run, written once at the end. */
  def write(path: Path, ops: Seq[OpRec], layers: Map[String, Double], host: Map[String, Any],
      extra: Map[String, Any]): Unit = {
    val spans = Trace.all
    val self = Trace.selfSeconds(spans)
    val doc = Map(
      "host" -> host,
      "ops" -> ops,
      "layers" -> scala.collection.immutable.TreeMap(layers.toSeq: _*),
      "span_self_s" -> scala.collection.immutable.TreeMap(self.toSeq: _*),
      "spans" -> spans) ++ extra
    Files.write(path, Json(doc).getBytes("UTF-8"))
  }
}
