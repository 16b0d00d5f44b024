package loaderbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDate}
import java.util.concurrent.{Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{CopyBinary, CopyTransport, PgTypeMapping}

/** Seeded `lineitem`-shaped rows and their Postgres COPY BINARY encoding.
  * Every field is a pure function of (seed, row, field), which lets the
  * encoder and the reference frame the output check uses be built
  * independently of each other and of the program under test.
  */
final class LineitemGen(seed: Long, val rows: Long) {
  private def numericTypmod(p: Int, s: Int) = ((p << 16) | s) + 4
  val cols: Seq[(String, String, Int)] = Seq(
    ("l_orderkey", "int8", -1), ("l_partkey", "int8", -1), ("l_suppkey", "int8", -1),
    ("l_linenumber", "int4", -1),
    ("l_quantity", "numeric", numericTypmod(15, 2)),
    ("l_extendedprice", "numeric", numericTypmod(15, 2)),
    ("l_discount", "numeric", numericTypmod(15, 2)),
    ("l_tax", "numeric", numericTypmod(15, 2)),
    ("l_returnflag", "bpchar", 5), ("l_linestatus", "bpchar", 5),
    ("l_shipdate", "date", -1), ("l_commitdate", "date", -1),
    ("l_receiptdate", "timestamptz", -1),
    ("l_shipinstruct", "bpchar", 29), ("l_shipmode", "varchar", 14),
    ("l_comment", "text", -1))

  private val flags = Array("R", "A", "N")
  private val statuses = Array("O", "F")
  private val instructs = Array("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
    .map(_.padTo(25, ' '))
  private val modes = Array("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
  private val words = Array("furiously", "quickly", "carefully", "blithely", "regular",
    "final", "pending", "ironic", "express", "special", "deposits", "requests",
    "packages", "accounts", "ideas", "theodolites", "pinto", "beans", "foxes", "slyly")
  private val J2000Days = 10957 // 1970-01-01 → 2000-01-01
  private val DayMicros = 86400L * 1000000L

  /** One row's values in COPY field order, as the loaded table holds them:
    * numerics in cents, dates in epoch days, the timestamp in epoch micros.
    */
  final class Values(i: Long) {
    private def r(f: Int, n: Long) = Rnd.below(seed, i, f, n)
    val orderkey: Long = i / 4 + 1
    val partkey: Long = r(1, 20000) + 1
    val suppkey: Long = r(2, 1000) + 1
    val linenumber: Int = (i % 4).toInt + 1
    val quantityCents: Long = (r(3, 50) + 1) * 100
    val priceCents: Long = r(4, 10000000L) + 90000
    val discountCents: Long = r(5, 11)
    val taxCents: Long = r(6, 9)
    val returnflag: String = flags(r(7, 3).toInt)
    val linestatus: String = statuses(r(8, 2).toInt)
    val shipDays: Int = 8036 + r(9, 2500).toInt // from 1992-01-02
    val commitDays: Int = shipDays + r(10, 61).toInt - 30
    val receiptMicros: Long = (shipDays + 1 + r(11, 30)) * DayMicros + r(12, DayMicros)
    val shipinstruct: String = instructs(r(13, 4).toInt)
    val shipmode: String = modes(r(14, 7).toInt)
    val comment: String = {
      val n = 2 + r(15, 5).toInt
      (0 until n).map(k => words(r(16 + k, words.length).toInt)).mkString(" ")
    }
  }

  /** The COPY BINARY stream of rows [from, until). */
  def encode(from: Long, until: Long): Array[Byte] = {
    var buf = ByteBuffer.allocate(1 << 20)
    def ensure(n: Int): Unit = if (buf.remaining() < n) {
      val bigger = ByteBuffer.allocate(math.max(buf.capacity() * 2, buf.position() + n))
      buf.flip(); bigger.put(buf); buf = bigger
    }
    def int8(v: Long): Unit = { buf.putInt(8); buf.putLong(v) }
    def int4(v: Int): Unit = { buf.putInt(4); buf.putInt(v) }
    def text(s: String): Unit = {
      val b = s.getBytes(StandardCharsets.UTF_8); ensure(4 + b.length); buf.putInt(b.length); buf.put(b)
    }
    // numeric(15,2) from cents: base-10000 integer groups, then one
    // fraction group holding the two decimals (dscale 2)
    val groups = new Array[Int](5)
    def numeric(cents: Long): Unit = {
      var ip = cents / 100
      val fp = ((cents % 100) * 100).toInt
      var n = 0
      while (ip > 0) { groups(n) = (ip % 10000).toInt; ip /= 10000; n += 1 }
      val nd = n + (if (fp != 0) 1 else 0)
      buf.putInt(8 + 2 * nd)
      buf.putShort(nd.toShort); buf.putShort((if (n == 0) -1 else n - 1).toShort)
      buf.putShort(0); buf.putShort(2)
      var k = n - 1
      while (k >= 0) { buf.putShort(groups(k).toShort); k -= 1 }
      if (fp != 0) buf.putShort(fp.toShort)
    }
    buf.put(CopyBinary.Signature); buf.putInt(0); buf.putInt(0)
    var i = from
    while (i < until) {
      val v = new Values(i)
      ensure(256)
      buf.putShort(cols.size.toShort)
      int8(v.orderkey); int8(v.partkey); int8(v.suppkey); int4(v.linenumber)
      numeric(v.quantityCents); numeric(v.priceCents); numeric(v.discountCents); numeric(v.taxCents)
      text(v.returnflag); text(v.linestatus)
      int4(v.shipDays - J2000Days); int4(v.commitDays - J2000Days)
      int8(v.receiptMicros - J2000Days * DayMicros)
      text(v.shipinstruct); text(v.shipmode); text(v.comment)
      i += 1
    }
    ensure(2); buf.putShort(-1)
    java.util.Arrays.copyOf(buf.array(), buf.position())
  }

  /** The export as `streams` contiguous COPY streams, encoded in parallel. */
  def encodeStreams(streams: Int): IndexedSeq[Array[Byte]] = {
    val bounds = (0 to streams).map(k => rows * k / streams)
    val pool = Executors.newFixedThreadPool(streams)
    try {
      val fs = (0 until streams).map(k => pool.submit(() => encode(bounds(k), bounds(k + 1))))
      fs.map(_.get())
    } finally pool.shutdown()
  }

  /** The same rows as a Spark frame built straight from the generator —
    * the reference the loaded tables are checked against.
    */
  def reference(spark: SparkSession, partitions: Int): DataFrame = {
    val schema = PgTypeMapping.toSchema(cols)
    val (s, n) = (seed, rows)
    val rdd = spark.sparkContext.range(0L, rows, 1L, partitions).mapPartitions { it =>
      val g = new LineitemGen(s, n)
      def dec(cents: Long) = java.math.BigDecimal.valueOf(cents, 2)
      it.map { i =>
        val v = new g.Values(i)
        Row(v.orderkey, v.partkey, v.suppkey, v.linenumber, dec(v.quantityCents),
          dec(v.priceCents), dec(v.discountCents), dec(v.taxCents), v.returnflag,
          v.linestatus, LocalDate.ofEpochDay(v.shipDays.toLong),
          LocalDate.ofEpochDay(v.commitDays.toLong),
          Instant.ofEpochSecond(v.receiptMicros / 1000000L, (v.receiptMicros % 1000000L) * 1000L),
          v.shipinstruct, v.shipmode, v.comment)
      }
    }
    spark.createDataFrame(rdd, schema)
  }
}

/** Order-insensitive content checksum of a frame: row count plus the sums
  * of the two halves of a 64-bit row hash over every column, taken in the
  * order of `cols` and cast to the reference types.
  */
object Checksum {
  def apply(df: DataFrame, reference: org.apache.spark.sql.types.StructType): (Long, Long, Long) = {
    val cs = reference.fields.map(f => col(f.name).cast(f.dataType))
    val h = xxhash64(cs.toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))),
      sum(shiftrightunsigned(h, 32))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}

/** A loopback Postgres v3 server with trust auth that answers each
  * `COPY (<query>) TO STDOUT (FORMAT BINARY)` with one pre-encoded stream.
  * The query names the stream by its trailing integer. It speaks exactly
  * the slice `PgSocketTransport` uses: SSLRequest (answered 'N'), startup,
  * AuthenticationOk, ReadyForQuery, CopyOutResponse, CopyData, CopyDone,
  * CommandComplete and Terminate.
  */
final class PgStub(streams: IndexedSeq[Array[Byte]], ncols: Int) extends AutoCloseable {
  private val server = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
  val port: Int = server.getLocalPort
  private val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "pg-stub"); t.setDaemon(true); t
  }
  private val acceptor = new Thread(() => {
    try while (true) {
      val s = server.accept()
      pool.submit(new Runnable { def run(): Unit = serve(s) })
    } catch { case _: java.io.IOException => () } // closed
  }, "pg-stub-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  private def serve(sock: Socket): Unit = try {
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
    var len = in.readInt(); var code = in.readInt()
    if (code == 80877103) { // SSLRequest: no TLS here
      out.writeByte('N'); out.flush()
      len = in.readInt(); code = in.readInt()
    }
    require(code == 196608, s"unexpected startup code $code")
    in.skipNBytes((len - 8).toLong)
    out.writeByte('R'); out.writeInt(8); out.writeInt(0) // AuthenticationOk
    out.writeByte('Z'); out.writeInt(5); out.writeByte('I')
    out.flush()
    require(in.readByte() == 'Q', "expected a simple query")
    val q = new Array[Byte](in.readInt() - 4)
    in.readFully(q)
    val sql = new String(q, StandardCharsets.UTF_8).trim.stripSuffix("\u0000")
    val k = "(\\d+)\\D*$".r.findFirstMatchIn(sql).map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException(s"no stream number in: $sql"))
    val data = streams(k)
    out.writeByte('H'); out.writeInt(4 + 1 + 2 + 2 * ncols); out.writeByte(1)
    out.writeShort(ncols); (0 until ncols).foreach(_ => out.writeShort(1))
    var off = 0
    while (off < data.length) {
      val n = math.min(1 << 16, data.length - off)
      out.writeByte('d'); out.writeInt(4 + n); out.write(data, off, n)
      off += n
    }
    out.writeByte('c'); out.writeInt(4)
    val tag = "COPY\u0000".getBytes(StandardCharsets.UTF_8)
    out.writeByte('C'); out.writeInt(4 + tag.length); out.write(tag)
    out.writeByte('Z'); out.writeInt(5); out.writeByte('I')
    out.flush()
    in.readByte() // Terminate
  } catch {
    case _: java.io.EOFException => ()
  } finally sock.close()

  override def close(): Unit = {
    server.close()
    acceptor.join(10000)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

/** Wraps a transport so that, in traced runs, each `copyOut` is a
  * `sources.copy_out` span. Runs inside tasks; in local mode those share
  * the Spark driver's JVM and its span recorder.
  */
final case class TimedTransport(inner: CopyTransport) extends CopyTransport {
  override def copyOut(): Array[Byte] = Trace.span("sources.copy_out")(inner.copyOut())
}
