package loaderbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame

import graft.sinks.{DeltaSink, HttpObjectStore, IcebergSink}
import graft.sources.{CopyBinary, CopyTransport, PgCopyBinarySource, PgSocketTransport}

/** Object-store plumbing the sink workloads share: an in-process
  * S3-shaped server over loopback HTTP, its client, and the counting
  * wrapper every verb gets as `store =`.
  */
final class Bucket(root: Path) extends AutoCloseable {
  java.nio.file.Files.createDirectories(root)
  val server = new HttpObjectStore.Server(root)
  val store = new CountingStore(new HttpObjectStore.Client(server.endpoint, root))
  def path(rel: String): String = root.resolve(rel).toString

  def counters: Map[String, Long] = store.snapshot ++ Map(
    "server_object_puts" -> server.objectPuts.get.toLong,
    "server_object_gets" -> server.objectGets.get.toLong,
    "server_multipart_completions" -> server.multipartCompletions.get.toLong)

  override def close(): Unit = server.close()
}

/** `copy-load`: the reference's own pipeline. A seeded COPY BINARY export
  * of `lineitem` (sf0.1, 600 k rows) is served as `nproc` streams by a
  * loopback Postgres stub to `PgSocketTransport`, decoded by
  * `PgCopyBinarySource` and loaded into a fresh Delta or Iceberg table
  * (alternating) through the object store: multipart publish plus a
  * conditional-put commit. One op is one load, from source open until the
  * commit is visible.
  */
final class CopyLoad(ctx: Ctx) extends Workload {
  import ctx.{nproc, spark}
  private val gen = new LineitemGen(ctx.seed, rows = 600000L) // sf0.1
  private val bucket = new Bucket(ctx.work.resolve("bucket"))
  private var streams: IndexedSeq[Array[Byte]] = IndexedSeq.empty
  private var stub: PgStub = _
  private var transports: Seq[CopyTransport] = Nil
  private var expected: (Long, Long, Long) = _
  private val schema = graft.sources.PgTypeMapping.toSchema(gen.cols)
  private val stages = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private var warmLoads: Seq[OpRec] = Nil

  override val cycle = 2

  override def prepare(): Unit = { streams = gen.encodeStreams(nproc) }

  override def setUp(): Unit = {
    stub = new PgStub(streams, gen.cols.size)
    transports = (0 until nproc).map { k =>
      TimedTransport(PgSocketTransport("127.0.0.1", stub.port, user = "bench",
        database = "bench", query = s"SELECT * FROM lineitem_export WHERE stream = $k",
        password = None, sslMode = "disable"))
    }
    expected = Checksum(gen.reference(spark, nproc * 2), schema)
    // one load per format before timing: loads repeat within one JVM, so
    // the first one's class loading and JIT warm-up is not what a load costs
    warmLoads = Seq(-2, -1).map(i => runOp(i))
  }

  private def table(i: Int) = bucket.path(s"loads/t$i")
  private def source: DataFrame = PgCopyBinarySource(transports, gen.cols).load(spark)

  private def load(format: String, t: String, df: => DataFrame): Unit = format match {
    case "delta" =>
      require(DeltaSink.write(df, t, store = bucket.store), s"$t already exists")
    case _ =>
      IcebergSink.write(df, t, IcebergSink.CreateExclusive, store = bucket.store)
  }

  override def runOp(i: Int): OpRec = {
    val format = if (Math.floorMod(i, 2) == 0) "delta" else "iceberg"
    val t0 = System.nanoTime()
    Trace.span(s"sinks.$format.load")(load(format, table(i), source))
    OpRec(i, "write", "load", format, t0, System.nanoTime(), ok = true, gen.rows)
  }

  private def readBack(format: String, t: String): DataFrame =
    if (format == "delta") DeltaSink.read(spark, t, store = bucket.store)
    else IcebergSink.read(spark, t, store = bucket.store)

  override def verify(ops: Seq[OpRec]): Unit = {
    (warmLoads ++ ops.filter(_.ok)).map(o => (o.format, table(o.i))).foreach { case (format, t) =>
      ctx.check(s"$format load $t reads back with the source's rows and checksum") {
        val got = Checksum(readBack(format, t), schema)
        if (got != expected) System.err.println(s"[loaderbench] $t: got $got, want $expected")
        got == expected
      }
      Fs.deleteTree(java.nio.file.Paths.get(t))
    }
    warmLoads = Nil
  }

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** The isolating probes of the loader stage table, one warm run each. */
  override def layers(ops: Seq[OpRec], store: Map[String, Long]): Map[String, Double] = {
    val cols = gen.cols
    val ts = transports
    val copyOut = timed(spark.sparkContext.parallelize(ts, ts.size).map(_.copyOut().length.toLong).sum())
    val decode = timed(spark.sparkContext.parallelize(ts, ts.size)
      .map(t => CopyBinary.decode(t.copyOut(), cols).size.toLong).sum())
    GcWatch.reset()
    val noop = timed(source.write.format("noop").mode("overwrite").save())
    val allocPerRow = GcWatch.allocatedBytes.toDouble / gen.rows
    val pq = ctx.work.resolve("probe-parquet").toString
    source.write.mode("overwrite").parquet(pq)
    val parquetToDelta = timed {
      require(DeltaSink.write(spark.read.parquet(pq), table(-100), store = bucket.store))
    }
    Fs.deleteTree(java.nio.file.Paths.get(table(-100)))
    Fs.deleteTree(java.nio.file.Paths.get(pq))
    val good = ops.filter(_.ok)
    def fmt(f: String) = { val xs = good.filter(_.format == f).map(_.seconds); if (xs.isEmpty) 0.0 else Stats.median(xs) }
    val loads = if (good.isEmpty) 0.0 else Stats.median(good.map(_.seconds))
    val st = store.withDefaultValue(0L)
    stages.clear()
    stages ++= Seq("copy_out_only_s" -> copyOut, "decode_s" -> (decode - copyOut),
      "copy_out_and_decode_s" -> decode, "load_to_noop_s" -> noop,
      "parquet_to_delta_s" -> parquetToDelta, "to_delta_s" -> fmt("delta"),
      "to_iceberg_s" -> fmt("iceberg"), "rows" -> gen.rows.toDouble,
      "copy_bytes" -> streams.map(_.length.toLong).sum.toDouble)
    val n = math.max(1, good.size)
    val publishS = st("publish_ns") / 1e9 / n
    val commitS = st("commit_ns") / 1e9 / n
    val last = good.lastOption.map(o => (o.format, table(o.i)))
    Map(
      "sinks.log_bytes_end" -> last.map { case (f, t) =>
        Fs.treeBytes(java.nio.file.Paths.get(t, if (f == "delta") "_delta_log" else "metadata")).toDouble
      }.getOrElse(0.0),
      "sinks.live_files_end" -> last.map { case (f, t) => readBack(f, t).inputFiles.length.toDouble }
        .getOrElse(0.0),
      "sources.copy_out_s" -> copyOut,
      "sources.copy_out_bytes" -> streams.map(_.length.toLong).sum.toDouble,
      "sources.decode_s" -> (decode - copyOut),
      "sources.to_frame_s" -> (noop - decode),
      "sources.rows" -> gen.rows.toDouble,
      "sources.alloc_bytes_per_row" -> allocPerRow,
      "sinks.encode_s" -> (loads - noop - publishS - commitS),
      "probe.parquet_to_delta_s" -> parquetToDelta,
      "sinks.write_amp" -> st("publish_bytes").toDouble / n / streams.map(_.length.toLong).sum)
  }

  override def storeCounters: Map[String, Long] = bucket.counters

  override def traceExtra: Map[String, Any] = Map("loader_stages" -> stages.toMap)

  override def close(): Unit = {
    if (stub != null) stub.close()
    bucket.close()
  }
}
