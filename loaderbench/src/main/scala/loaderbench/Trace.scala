package loaderbench

import java.lang.management.ManagementFactory
import java.nio.file.{FileAlreadyExistsException, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sinks.{ObjectStore, TaskIO}

/** One timed call into a layer. `op` is the benchmark op that was running
  * when the span opened (executor-side spans inherit it the same way, since
  * the benchmark runs one client op at a time).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long, bytes: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans cost nothing unless [[on]] is set; they
  * stay in memory and are written out once, when the run ends.
  */
object Trace {
  @volatile var on: Boolean = false
  @volatile var currentOp: Int = -1

  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[T](name: String, bytes: Long = 0L)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val op = currentOp
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0), op, name, t0, System.nanoTime(), bytes))
        stack.set(parents)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Self time per span name: span time minus the time of its direct
    * children (children are only found on the same thread).
    */
  def selfSeconds(ss: Seq[Span]): Map[String, Double] = {
    val childTime = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum }
  }
}

/** Timing and counting wrapper around the store a sink verb gets as
  * `store =`. Every call is forwarded unchanged; executor-side byte traffic
  * (the store's `TaskIO`) is not seen here and is read from the server's
  * own counters instead.
  */
final class CountingStore(inner: ObjectStore) extends ObjectStore {
  val commitAttempts = new AtomicLong
  val commitConflicts = new AtomicLong
  val commitNs = new AtomicLong
  val commitBytes = new AtomicLong
  val publishes = new AtomicLong
  val publishBytes = new AtomicLong
  val publishNs = new AtomicLong
  val reads = new AtomicLong
  val lists = new AtomicLong
  val deletes = new AtomicLong

  private def timed[T](ns: AtomicLong)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally ns.addAndGet(System.nanoTime() - t0)
  }

  override def putIfAbsent(target: Path, bytes: Array[Byte]): Unit =
    Trace.span("store.commit", bytes.length.toLong) {
      commitAttempts.incrementAndGet()
      try timed(commitNs)(inner.putIfAbsent(target, bytes))
      catch { case e: FileAlreadyExistsException => commitConflicts.incrementAndGet(); throw e }
      commitBytes.addAndGet(bytes.length.toLong)
    }

  override def taskIO: Option[TaskIO] = inner.taskIO

  override def putObject(target: Path, bytes: Array[Byte]): Unit =
    Trace.span("store.publish", bytes.length.toLong) {
      timed(publishNs)(inner.putObject(target, bytes))
      publishes.incrementAndGet()
      publishBytes.addAndGet(bytes.length.toLong)
    }

  override def deleteObject(target: Path): Unit =
    Trace.span("store.delete") { deletes.incrementAndGet(); inner.deleteObject(target) }

  override def listPrefix(prefix: Path): Seq[Path] =
    Trace.span("store.list") { lists.incrementAndGet(); inner.listPrefix(prefix) }

  override def listPrefixMeta(prefix: Path): Seq[(Path, Long)] =
    Trace.span("store.list") { lists.incrementAndGet(); inner.listPrefixMeta(prefix) }

  override def readObject(target: Path): Array[Byte] =
    Trace.span("store.read") { reads.incrementAndGet(); inner.readObject(target) }

  def snapshot: Map[String, Long] = Map(
    "commit_attempts" -> commitAttempts.get, "commit_conflicts" -> commitConflicts.get,
    "commit_ns" -> commitNs.get, "commit_bytes" -> commitBytes.get,
    "publishes" -> publishes.get, "publish_bytes" -> publishBytes.get,
    "publish_ns" -> publishNs.get, "reads" -> reads.get, "lists" -> lists.get,
    "deletes" -> deletes.get)
}

/** One Spark job as the benchmark's listener saw it. */
final class JobRec(val id: Int, val startNs: Long) {
  @volatile var endNs: Long = -1L
  val stages = new AtomicInteger
  val tasks = new AtomicInteger
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
}

/** Job and task accounting. Jobs are later assigned to ops by time window,
  * not by job-group properties, which AQE's shared thread pool does not
  * carry reliably.
  */
final class JobListener extends SparkListener with QueryExecutionListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val planNs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val r = new JobRec(e.jobId, System.nanoTime())
    jobs.put(e.jobId, r)
    e.stageIds.foreach(s => stageToJob.put(s, r))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endNs = System.nanoTime())
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageToJob.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (r <- Option(stageToJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
      r.tasks.incrementAndGet()
      r.runMs.addAndGet(m.executorRunTime)
      r.cpuNs.addAndGet(m.executorCpuTime)
      r.gcMs.addAndGet(m.jvmGCTime)
      r.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      r.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      r.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Trace.on) planNs.addAndGet(
      qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def all: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.startNs)
}

/** GC notifications: post-GC heap sizes (the constant-memory check), total
  * GC pause time and allocated bytes (heap growth between collections).
  */
object GcWatch {
  /** (nanoTime, heap bytes after the collection) of every collection. */
  private val afterGc = new ConcurrentLinkedQueue[(Long, Long)]()
  private val gcMs = new AtomicLong
  private val allocated = new AtomicLong
  private val lastAfter = new AtomicLong
  @volatile private var installed = false

  private def heapUsed: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  def install(): Unit = synchronized {
    if (!installed) {
      installed = true
      lastAfter.set(heapUsed)
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach { gc =>
        gc.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(
          (n: javax.management.Notification, _: Any) => {
            if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = com.sun.management.GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData]).getGcInfo
              val before = info.getMemoryUsageBeforeGc.values().asScala.map(_.getUsed).sum
              val after = info.getMemoryUsageAfterGc.values().asScala.map(_.getUsed).sum
              GcWatch.synchronized {
                allocated.addAndGet(math.max(0L, before - lastAfter.get))
                lastAfter.set(after)
              }
              gcMs.addAndGet(info.getDuration)
              afterGc.add((System.nanoTime(), after))
            }
          }, null, null)
      }
    }
  }

  /** Starts a new measurement window. */
  def reset(): Unit = GcWatch.synchronized {
    afterGc.clear(); gcMs.set(0L); allocated.set(0L); lastAfter.set(heapUsed)
  }

  /** Heap growth since the last collection counts as allocated too. */
  def allocatedBytes: Long = GcWatch.synchronized {
    allocated.get + math.max(0L, heapUsed - lastAfter.get)
  }
  def gcSeconds: Double = gcMs.get / 1000.0
  /** Post-GC heap sizes of the collections that ended inside an op. */
  def liveDuring(ops: Seq[(Long, Long)]): Seq[Double] =
    afterGc.asScala.toSeq.collect { case (t, b) if ops.exists { case (s, e) => t >= s && t <= e } => b.toDouble }
}
