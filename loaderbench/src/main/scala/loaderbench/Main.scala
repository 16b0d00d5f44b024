package loaderbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One op the client ran: a load, an upkeep verb or a declared query. */
final case class OpRec(i: Int, kind: String, verb: String, format: String,
    startNs: Long, endNs: Long, ok: Boolean, rows: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Everything a workload shares with the harness. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path, val nproc: Int) {
  /** Failed output checks and op errors, with their messages. */
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  var checks = 0L

  /** Runs one output check; an exception or a false result is a failure. */
  def check(what: String)(ok: => Boolean): Unit = {
    checks += 1
    val r = try { if (ok) None else Some(s"$what: mismatch") }
    catch { case e: Throwable => Some(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    r.foreach { m => failures += m; System.err.println(s"[loaderbench] check failed: $m") }
  }
}

trait Workload extends AutoCloseable {
  /** The part of set-up that is repeated to take a median of its time. */
  def prepare(): Unit
  /** One-off set-up after the last `prepare`. Apart from what set-up itself
    * runs (warm loads in copy-load, the base tables' appends in
    * table-upkeep), there is no warm-up: like the CLI, which starts a JVM per
    * command, each op kind's first calls in the JVM are timed.
    */
  def setUp(): Unit
  /** Ops are run in whole cycles, so each window sees every op kind. */
  def cycle: Int
  def runOp(i: Int): OpRec
  /** Untimed output checks, reported through `Ctx.check`. */
  def verify(ops: Seq[OpRec]): Unit
  /** Traced runs only: isolating probes and workload-specific layer
    * figures, by per-layer metric name.
    */
  def layers(ops: Seq[OpRec], store: Map[String, Long]): Map[String, Double]
  /** Store traffic counters, cumulative; empty when no store is used. */
  def storeCounters: Map[String, Long] = Map.empty
  /** Extra sections for the trace file. */
  def traceExtra: Map[String, Any] = Map.empty
}

/** Loader benchmark entry point.
  *
  * `--workload <copy-load|table-upkeep> --seed <n> --seconds <s>
  * --trace <0|1> --work <scratch dir> --out <results dir>`; prints report
  * lines and, last, one JSON result line.
  */
object Main {
  private val SetupReps = 3

  def main(args: Array[String]): Unit = {
    try run(args)
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
    System.out.flush()
    sys.exit(0)
  }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = Paths.get(opt("out")).toAbsolutePath
    require(Set("copy-load", "table-upkeep").contains(workload),
      s"unknown workload $workload")
    Files.createDirectories(work)
    Files.createDirectories(out)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val nproc = Runtime.getRuntime.availableProcessors()
    GcWatch.install()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
    val ctx = new Ctx(spark, seed, work, nproc)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val wl: Workload = workload match {
      case "copy-load" => new CopyLoad(ctx)
      case "table-upkeep" => new TableUpkeep(ctx)
    }
    try {
      val prepS = (1 to SetupReps).map { _ =>
        val t0 = System.nanoTime(); wl.prepare(); (System.nanoTime() - t0) / 1e9 }
      val t1 = System.nanoTime()
      wl.setUp()
      val setUpS = (System.nanoTime() - t1) / 1e9
      val setupS = sessionS + Stats.median(prepS) + setUpS

      var next = 0
      // Runs whole cycles of ops for about `secs`: another cycle starts only
      // while at least half a cycle's time is left.
      def window(secs: Double): (Seq[OpRec], Seq[Double]) = {
        System.gc() // every window starts from a collected heap
        GcWatch.reset()
        val ops = scala.collection.mutable.ArrayBuffer.empty[OpRec]
        val start = System.nanoTime()
        var cycleStart = start
        var lastCycleNs = 0L
        def more = {
          val now = System.nanoTime()
          if (next % wl.cycle != 0) true
          else {
            if (now > cycleStart) lastCycleNs = now - cycleStart
            cycleStart = now
            val left = start + (secs * 1e9).toLong - now
            left > 0 && left >= lastCycleNs / 2
          }
        }
        while (more) {
          Trace.currentOp = next
          val t0 = System.nanoTime()
          ops += (try wl.runOp(next) catch { case e: Throwable =>
            System.err.println(s"[loaderbench] op $next failed: $e")
            ctx.failures += s"op $next: $e"
            OpRec(next, "error", "error", "", t0, System.nanoTime(), ok = false, 0L)
          })
          next += 1
        }
        (ops.toSeq, GcWatch.liveDuring(ops.map(o => (o.startNs, o.endNs)).toSeq).map(_ / 1048576.0))
      }

      var opsRun = 0
      val metrics: Map[String, (Double, String)] =
        if (!traced) {
          val canaryBefore = Canary.probe()
          val (ops, liveMb) = window(seconds)
          val canaryAfter = Canary.probe()
          opsRun = ops.size
          wl.verify(ops)
          report(workload, seed, ops, Map("session_s" -> sessionS, "prepare_s" -> prepS,
            "set_up_s" -> setUpS), Seq(canaryBefore, canaryAfter), liveMb, out)
          EndToEnd(ops, setupS)
        } else {
          // the whole window traced; its end-to-end figures are per-layer
          // metrics too, so comparing them with an untraced run's gives the
          // tracing overhead
          val storeBefore = wl.storeCounters
          val planBefore = listener.planNs.get
          Trace.on = true
          val (ops, liveMb) = window(seconds)
          Trace.on = false
          val (gcS, allocB) = (GcWatch.gcSeconds, GcWatch.allocatedBytes)
          val storeDelta = wl.storeCounters.map { case (k, v) => k -> (v - storeBefore.getOrElse(k, 0L)) }
          val planS = (listener.planNs.get - planBefore) / 1e9
          val extra = wl.layers(ops, storeDelta)
          opsRun = ops.size
          wl.verify(ops)
          val e2e = EndToEnd(ops, setupS)
          val layers = Layers(ops, listener.all, storeDelta, planS, gcS, allocB, nproc,
            extra ++ Map("trace.op_gmean_s" -> e2e("op_gmean_s")._1, "trace.ops_per_s" -> e2e("ops_per_s")._1) ++
              (if (liveMb.isEmpty) Map.empty else Map(
                "jvm.live_heap_mb" -> Stats.median(liveMb), "jvm.peak_live_heap_mb" -> liveMb.max)), ctx)
          TraceFile.write(out.resolve(s"trace-$workload-$seed.json"), ops, layers,
            Host.tags(spark, seed, workload), wl.traceExtra + ("figures" -> EndToEnd.figures(ops)))
          layers.map { case (k, v) => k -> (v, Layers.unit(k)) }
        }

      val attempted = ctx.checks + opsRun
      val failed = ctx.failures.size.toLong
      println(Json(Map(
        "correct" -> ctx.failures.isEmpty,
        "attempted" -> math.max(1L, attempted),
        "failed" -> failed,
        "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
    } finally {
      wl.close()
      spark.stop()
    }
  }

  /** One report line: the host, with the [[Canary]] timed just before and
    * just after the window, the set-up breakdown and every op's time.
    */
  private def report(workload: String, seed: Long, ops: Seq[OpRec], setup: Map[String, Any],
      canaryS: Seq[Double], liveMb: Seq[Double], out: Path): Unit = {
    val spark = SparkSession.active
    val detail = Map(
      "workload" -> workload, "host" -> (Host.tags(spark, seed, workload) + ("canary_s" -> canaryS)),
      "setup" -> setup,
      "ops" -> ops.map(o => s"${o.format}.${o.verb}=${"%.3f".format(o.seconds)}"),
      "live_heap_mb" -> Map("n" -> liveMb.size, "p50" -> (if (liveMb.isEmpty) 0.0 else Stats.median(liveMb)),
        "max" -> (if (liveMb.isEmpty) 0.0 else liveMb.max)),
      "figures" -> EndToEnd.figures(ops))
    val line = Json(detail)
    println(line)
    Files.write(out.resolve("history.jsonl"), (line + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }
}

/** The end-to-end metrics of a window, from the ops' wall times. */
object EndToEnd {
  def apply(ops: Seq[OpRec], setupS: Double): Map[String, (Double, String)] = {
    val good = ops.filter(_.ok).map(_.seconds)
    val secs = if (good.nonEmpty) good else Seq(ops.map(_.seconds).sum)
    Map(
      "setup_s" -> (setupS, "s"),
      // every window runs the same mix of ops, so their geometric mean is a
      // steady summary that weighs a fast verb's slowdown like a slow one's
      "op_gmean_s" -> (math.exp(secs.map(math.log).sum / secs.size), "s"),
      "ops_per_s" -> (secs.size / secs.sum, "1/s"))
  }

  /** The workload-specific figures: load throughput, and write, read and
    * query latency with their tail percentile and sample count.
    */
  def figures(ops: Seq[OpRec]): Map[String, Any] = {
    val good = ops.filter(_.ok)
    def lat(kind: String): Map[String, Any] = {
      val xs = good.filter(_.kind == kind).map(_.seconds)
      if (xs.isEmpty) Map("n" -> 0)
      else {
        val (p, t) = Stats.tail(xs)
        Map("n" -> xs.size, "p50_s" -> Stats.median(xs), "tail_percentile" -> p, "tail_s" -> t)
      }
    }
    val loads = good.filter(_.verb == "load")
    Map("write" -> lat("write"), "read" -> lat("read"), "query" -> lat("query")) ++
      (if (loads.nonEmpty) Map("load_rows_per_s" ->
        loads.head.rows / Stats.median(loads.map(_.seconds))) else Map.empty)
  }
}

/** The host and build a result was measured on, so only like runs are
  * compared.
  */
object Host {
  def tags(spark: SparkSession, seed: Long, workload: String): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "xmx_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
    "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
    "spark" -> spark.version,
    "source" -> sys.props.getOrElse("loaderbench.source", "unknown"),
    "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.arch")}",
    "seed" -> seed, "workload" -> workload)
}
