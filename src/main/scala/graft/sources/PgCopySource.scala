package graft.sources

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{Decimal, DecimalType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A pluggable batch source: the interface the reference's P1 source slot
  * implies (`PgArrowSource` produces schema + record batches,
  * /root/reference/src/pg_arrow_source.rs:201-273; the pipeline consumes it
  * source-agnostically through lib.rs). A Spark source produces a schema
  * and a DataFrame.
  */
trait Source {
  def schema: StructType
  def load(spark: SparkSession): DataFrame
}

/** Decoder for the Postgres COPY BINARY wire format (the stream
  * `COPY table TO STDOUT (FORMAT BINARY)` emits, and what the reference's
  * spawned connection task reads row-group-wise,
  * pg_arrow_source.rs:211-273): an 11-byte signature, int32 flags, int32
  * header-extension length, then per tuple an int16 field count and
  * length-prefixed big-endian field values (length −1 = NULL), terminated
  * by field count −1. Field bytes decode through the property-tested
  * [[PgTypeMapping]] contract — J2000 epoch rebase for dates/timestamps,
  * base-10000 truncating numeric decode.
  *
  * Like the reference, which appends each field to a typed Arrow column
  * builder (pg_arrow_source.rs:256-268), every field is written straight
  * into Spark's internal row format: no per-field JVM object and no
  * external-row conversion.
  */
object CopyBinary {

  val Signature: Array[Byte] =
    Array('P', 'G', 'C', 'O', 'P', 'Y', '\n', 0xFF.toByte, '\r', '\n', 0x00).map(_.toByte)

  /** Writes one column's non-NULL wire field, `len` bytes at `pos` of
    * `src`, into ordinal `i` of the row being built. `width` is the wire
    * size of a fixed-width type, −1 for variable-width ones.
    */
  private abstract class FieldWriter(val width: Int) {
    def write(src: ByteBuffer, pos: Int, len: Int, w: UnsafeRowWriter, i: Int): Unit
    def writeNull(w: UnsafeRowWriter, i: Int): Unit = w.setNullAt(i)
  }

  /** The writer for one column, picked once from its Postgres type.
    * `nullOnOverflow` is what a numeric exceeding its declared precision
    * becomes: NULL, or (ANSI mode) an `ArithmeticException`, as Spark's own
    * decimal conversion decides.
    */
  private def fieldWriter(pgType: String, typmod: Int, nullOnOverflow: Boolean): FieldWriter =
    pgType match {
      case "bool" => new FieldWriter(1) {
        def write(b: ByteBuffer, p: Int, n: Int, w: UnsafeRowWriter, i: Int): Unit =
          w.write(i, b.get(p) != 0)
      }
      case "char" => new FieldWriter(1) {
        def write(b: ByteBuffer, p: Int, n: Int, w: UnsafeRowWriter, i: Int): Unit =
          w.write(i, b.get(p))
      }
      case "int2" => new FieldWriter(2) {
        def write(b: ByteBuffer, p: Int, n: Int, w: UnsafeRowWriter, i: Int): Unit =
          w.write(i, b.getShort(p))
      }
      case "int4" => new FieldWriter(4) {
        def write(b: ByteBuffer, p: Int, n: Int, w: UnsafeRowWriter, i: Int): Unit =
          w.write(i, b.getInt(p))
      }
      case "int8" => new FieldWriter(8) {
        def write(b: ByteBuffer, p: Int, n: Int, w: UnsafeRowWriter, i: Int): Unit =
          w.write(i, b.getLong(p))
      }
      case "float4" => new FieldWriter(4) {
        def write(b: ByteBuffer, p: Int, n: Int, w: UnsafeRowWriter, i: Int): Unit =
          w.write(i, b.getFloat(p))
      }
      case "float8" => new FieldWriter(8) {
        def write(b: ByteBuffer, p: Int, n: Int, w: UnsafeRowWriter, i: Int): Unit =
          w.write(i, b.getDouble(p))
      }
      case "timestamp" | "timestamptz" => new FieldWriter(8) {
        def write(b: ByteBuffer, p: Int, n: Int, w: UnsafeRowWriter, i: Int): Unit =
          w.write(i, PgTypeMapping.rebaseMicros(b.getLong(p)))
      }
      case "date" => new FieldWriter(4) {
        def write(b: ByteBuffer, p: Int, n: Int, w: UnsafeRowWriter, i: Int): Unit =
          w.write(i, PgTypeMapping.rebaseDays(b.getInt(p)))
      }
      case "numeric" =>
        val dt = PgTypeMapping.sparkTypeFor(pgType, typmod).asInstanceOf[DecimalType]
        val (precision, scale) = (dt.precision, dt.scale)
        // Spark's own conversion of the exact value: NULL or an error on
        // overflow, and the 16-byte representation above 18 digits
        def exact(b: ByteBuffer, p: Int, n: Int): Decimal = {
          val unscaled = PgTypeMapping.pgNumericToUnscaled(
            java.util.Arrays.copyOfRange(b.array, p, p + n), scale)
          GraftColumnBridge.toPrecision(Decimal(new java.math.BigDecimal(unscaled.bigInteger, scale)),
            precision, scale, nullOnOverflow)
        }
        if (precision <= Decimal.MAX_LONG_DIGITS) new FieldWriter(-1) {
          private val bound = BigInt(10).pow(precision).toLong
          def write(b: ByteBuffer, p: Int, n: Int, w: UnsafeRowWriter, i: Int): Unit = {
            val v = PgTypeMapping.pgNumericToUnscaledLong(b.array, p, n, scale)
            if (v != PgTypeMapping.UnscaledOverflow && math.abs(v) < bound) w.write(i, v)
            else w.write(i, exact(b, p, n), precision, scale)
          }
        } else new FieldWriter(-1) {
          def write(b: ByteBuffer, p: Int, n: Int, w: UnsafeRowWriter, i: Int): Unit =
            w.write(i, exact(b, p, n), precision, scale)
          // a wide decimal keeps its 16-byte slot when NULL
          override def writeNull(w: UnsafeRowWriter, i: Int): Unit =
            w.write(i, null: Decimal, precision, scale)
        }
      case "text" | "varchar" | "bpchar" => new FieldWriter(-1) {
        def write(b: ByteBuffer, p: Int, n: Int, w: UnsafeRowWriter, i: Int): Unit =
          // well-formed UTF-8 is stored as is; malformed bytes get Java's
          // U+FFFD replacement, as a String round trip would give them
          if (UTF8String.fromBytes(b.array, p, n).isValid) w.write(i, b.array, p, n)
          else w.write(i, UTF8String.fromString(new String(b.array, p, n, StandardCharsets.UTF_8)))
      }
      case "bytea" => new FieldWriter(-1) {
        def write(b: ByteBuffer, p: Int, n: Int, w: UnsafeRowWriter, i: Int): Unit =
          w.write(i, b.array, p, n)
      }
      case other => throw new IllegalArgumentException(
        s"Unsupported Postgres type '$other'. Cast the column to text in the query.")
    }

  /** Lazily decodes one COPY BINARY stream into Catalyst rows. `cols` are
    * (name, pgType, typmod) as [[PgTypeMapping.toSchema]] takes.
    *
    * Every `next()` returns the SAME row object, refilled: a caller that
    * keeps rows beyond the next call (collects, buffers, sorts) must
    * `copy()` each one first.
    *
    * `nullOnOverflow`: a numeric exceeding its declared precision reads as
    * NULL instead of failing. Its default, the active conf's ANSI mode, is
    * only the session's on the driver or inside a SQL execution, so a
    * caller that decodes in plain RDD tasks passes it from the driver.
    */
  def decode(bytes: Array[Byte], cols: Seq[(String, String, Int)],
      nullOnOverflow: Boolean = !SQLConf.get.ansiEnabled): Iterator[InternalRow] = {
    val buf = ByteBuffer.wrap(bytes)
    val sig = new Array[Byte](Signature.length)
    buf.get(sig)
    require(java.util.Arrays.equals(sig, Signature), "not a COPY BINARY stream (bad signature)")
    buf.getInt // flags: bit 16 = OIDs included (never set by modern PG)
    val extLen = buf.getInt
    buf.position(buf.position() + extLen)
    val writers = cols.map { case (_, t, m) => fieldWriter(t, m, nullOnOverflow) }.toArray
    val row = new UnsafeRowWriter(writers.length)

    new Iterator[InternalRow] {
      private var nFields: Int = buf.getShort.toInt
      override def hasNext: Boolean = nFields != -1
      override def next(): InternalRow = {
        require(nFields == writers.length,
          s"tuple has $nFields fields, schema has ${writers.length}")
        row.reset()
        row.zeroOutNullBytes()
        var i = 0
        while (i < writers.length) {
          val len = buf.getInt
          val fw = writers(i)
          if (len < 0) fw.writeNull(row, i)
          else {
            if (len > buf.remaining()) throw new java.nio.BufferUnderflowException
            require(fw.width < 0 || len == fw.width,
              s"field ${cols(i)._1} has $len bytes, its type takes ${fw.width}")
            val pos = buf.position()
            fw.write(buf, pos, len, row, i)
            buf.position(pos + len)
          }
          i += 1
        }
        nFields = if (buf.remaining() >= 2) buf.getShort.toInt else -1
        row.getRow
      }
    }
  }
}

/** Transport seam (r8, VERDICT r7 #5): WHERE one COPY BINARY stream's
  * bytes come from, separated from HOW they decode ([[CopyBinary]]). Runs
  * ON THE EXECUTORS — one transport per Spark partition — so it must be
  * Serializable and hold only connection/addressing state, never bytes.
  */
trait CopyTransport extends Serializable {
  /** The complete raw COPY BINARY stream (signature → trailer). */
  def copyOut(): Array[Byte]
}

/** Recorded-stream transport: the offline path (SURVEY §7.1 — no PG driver
  * in the container; streams arrive as files / object-store objects).
  */
final case class FileTransport(path: String) extends CopyTransport {
  override def copyOut(): Array[Byte] = Files.readAllBytes(Paths.get(path))
}

/** LIVE-socket transport: a from-scratch Postgres v3 wire client covering
  * the slice the reference's source negotiates
  * (/root/reference/src/pg_arrow_source.rs:201-273): TLS via the
  * SSLRequest preamble (the reference fronts tokio-postgres with a
  * native-tls connector, `:211-213` — sslmode-`prefer` semantics: use TLS
  * when the server offers it, plaintext otherwise), startup,
  * trust / cleartext / MD5 / SCRAM-SHA-256 auth with `PGPASSWORD` pickup
  * from the environment (`:206-209`), one `COPY (<query>) TO STDOUT
  * (FORMAT BINARY)` statement, CopyData accumulation, and fail-fast
  * surfacing of an ErrorResponse — including one arriving MID-STREAM, the
  * spawned-connection failure mode the reference handles at `:211-218`
  * (partial data is discarded, the server's message becomes the
  * exception).
  *
  * `sslMode` follows libpq: `disable` never negotiates, `prefer`
  * (default, matching the reference's tokio-postgres default) negotiates
  * and falls back to plaintext on a server 'N', `require` fails instead.
  * Like libpq's `require`, the chain is validated (against `trustStore`
  * when given, the JDK default anchors otherwise) but the hostname is
  * not — `verify-full` would add endpoint identification.
  *
  * `password` defaults to the ambient `PGPASSWORD` at CONSTRUCTION time
  * (driver side), so executors never depend on their own environment.
  */
final case class PgSocketTransport(host: String, port: Int, user: String,
    database: String, query: String,
    password: Option[String] = sys.env.get("PGPASSWORD"),
    connectTimeoutMs: Int = 10000,
    readTimeoutMs: Int = 60000,
    sslMode: String = sys.env.getOrElse("PGSSLMODE", "prefer"),
    trustStore: Option[(String, String)] = None) extends CopyTransport {

  require(Set("disable", "prefer", "require").contains(sslMode),
    s"unsupported sslMode '$sslMode' (disable | prefer | require)")

  override def copyOut(): Array[Byte] = {
    val plain = new java.net.Socket()
    plain.connect(new java.net.InetSocketAddress(host, port), connectTimeoutMs)
    // fail fast on a half-dead server (accepted TCP, then silence mid-
    // handshake or mid-COPY) instead of blocking an executor forever
    plain.setSoTimeout(readTimeoutMs)
    val sock = if (sslMode == "disable") plain else negotiateTls(plain)
    try {
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(sock.getInputStream))
      val out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(sock.getOutputStream))

      // StartupMessage: int32 total length, int32 protocol 3.0, k\0v\0…\0
      val params = s"user\u0000$user\u0000database\u0000$database\u0000\u0000"
        .getBytes(StandardCharsets.UTF_8)
      out.writeInt(8 + params.length)
      out.writeInt(196608)
      out.write(params)
      out.flush()

      val copied = new java.io.ByteArrayOutputStream()
      var sentQuery = false
      while (true) {
        val tag = in.readByte().toChar
        val len = in.readInt() - 4
        tag match {
          case 'R' => // authentication request
            val code = in.readInt()
            def pwOrFail = password.getOrElse(throw new java.io.IOException(
              s"server requests a password for user '$user' and PGPASSWORD is not set"))
            def sendPassword(pw: String): Unit = {
              val pb = (pw + "\u0000").getBytes(StandardCharsets.UTF_8)
              out.writeByte('p'); out.writeInt(4 + pb.length); out.write(pb)
              out.flush()
            }
            code match {
              case 0 => in.skipNBytes(len.toLong - 4) // AuthenticationOk
              case 3 => // cleartext password — the PGPASSWORD contract
                sendPassword(pwOrFail)
              case 5 => // MD5: "md5" + hex(md5(hex(md5(password+user)) + salt))
                val salt = new Array[Byte](4)
                in.readFully(salt)
                val inner = md5hex((pwOrFail + user).getBytes(StandardCharsets.UTF_8))
                sendPassword("md5" + md5hex(
                  inner.getBytes(StandardCharsets.UTF_8) ++ salt))
              case 10 => // AuthenticationSASL: NUL-separated mechanism list
                val mb = new Array[Byte](len - 4)
                in.readFully(mb)
                val mechanisms = new String(mb, StandardCharsets.UTF_8)
                  .split('\u0000').filter(_.nonEmpty).toSeq
                if (!mechanisms.contains("SCRAM-SHA-256"))
                  throw new java.io.IOException("server offers none of our SASL " +
                    s"mechanisms (offered: ${mechanisms.mkString(", ")})")
                scramSha256(in, out, pwOrFail)
              case other => throw new java.io.IOException(
                s"unsupported authentication method $other " +
                  "(this transport speaks trust/cleartext/md5/scram-sha-256)")
            }
          case 'Z' => // ReadyForQuery
            in.skipNBytes(len.toLong)
            if (!sentQuery) {
              val sql = s"COPY ($query) TO STDOUT (FORMAT BINARY)\u0000"
                .getBytes(StandardCharsets.UTF_8)
              out.writeByte('Q'); out.writeInt(4 + sql.length); out.write(sql)
              out.flush()
              sentQuery = true
            } else { // the post-COPY ready: stream complete
              out.writeByte('X'); out.writeInt(4); out.flush() // Terminate
              return copied.toByteArray
            }
          case 'd' => // CopyData — the payload
            val b = new Array[Byte](len)
            in.readFully(b)
            copied.write(b)
          case 'E' => // ErrorResponse — possibly mid-stream; fail fast
            val b = new Array[Byte](len)
            in.readFully(b)
            throw new java.io.IOException(
              s"Postgres error${if (copied.size > 0) " mid-stream" else ""}: ${errorMessage(b)}")
          case 'H' | 'c' | 'C' | 'S' | 'K' | 'N' =>
            // CopyOutResponse / CopyDone / CommandComplete / ParameterStatus
            // / BackendKeyData / NoticeResponse — framing we don't need
            in.skipNBytes(len.toLong)
          case other => throw new java.io.IOException(
            s"unexpected message '$other' from server")
        }
      }
      throw new IllegalStateException("unreachable")
    } finally sock.close()
  }

  /** SSLRequest preamble (PG docs §55.2.10): int32(8), int32(80877103);
    * the server answers one raw byte — 'S' (TLS follows; wrap and
    * handshake) or 'N' (no TLS here). `require` treats 'N' as fatal,
    * `prefer` falls back to plaintext on the SAME connection, exactly
    * libpq's ladder.
    */
  private def negotiateTls(plain: java.net.Socket): java.net.Socket = {
    try {
      val out = new java.io.DataOutputStream(plain.getOutputStream)
      out.writeInt(8); out.writeInt(80877103); out.flush()
      val answer = plain.getInputStream.read()
      answer match {
        case 'S' =>
          val ssl = sslContext.getSocketFactory
            .createSocket(plain, host, port, true)
            .asInstanceOf[javax.net.ssl.SSLSocket]
          ssl.setUseClientMode(true)
          ssl.startHandshake() // cert chain validated against the trust anchors
          ssl
        case 'N' =>
          if (sslMode == "require")
            throw new java.io.IOException(
              s"sslMode=require but server $host:$port does not support TLS")
          plain
        case other => throw new java.io.IOException(
          s"unexpected SSLRequest answer ${other.toChar} from $host:$port")
      }
    } catch { case e: Throwable => plain.close(); throw e }
  }

  /** Trust for the TLS handshake: the given PKCS#12 truststore, or the JDK
    * default anchors — never trust-all (the reference's native-tls builder
    * likewise validates by default, pg_arrow_source.rs:211).
    */
  private def sslContext: javax.net.ssl.SSLContext = trustStore match {
    case None => javax.net.ssl.SSLContext.getDefault
    case Some((path, pass)) =>
      val ks = java.security.KeyStore.getInstance("PKCS12")
      val is = Files.newInputStream(Paths.get(path))
      try ks.load(is, pass.toCharArray) finally is.close()
      val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
        javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
      tmf.init(ks)
      val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
      ctx.init(null, tmf.getTrustManagers, null)
      ctx
  }

  private def md5hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map("%02x".format(_)).mkString

  private def hmacSha256(key: Array[Byte], msg: Array[Byte]): Array[Byte] = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
    mac.doFinal(msg)
  }

  /** SASLprep (RFC 4013) of the SCRAM password, as RFC 5802 §2.2 requires
    * before it feeds Hi(): map non-ASCII spaces to SPACE (C.1.2),
    * drop the map-to-nothing set (B.1: soft hyphen, ZWSP/ZWNJ/ZWJ,
    * variation selectors, BOM), normalize NFKC, then reject the FULL
    * prohibited-output set loudly rather than send bytes a spec-compliant
    * server will hash differently or reject: controls (C.2.1/C.2.2),
    * private use (C.3), non-characters (C.4), surrogates (C.5),
    * inappropriate-for-plain-text incl. U+FFFD (C.6), ideographic
    * description characters (C.7), display-property changers (C.8),
    * tagging characters (C.9), unassigned code points, and the RFC 3454
    * §6 bidi rules (no LCat mixed into a RandALCat string; a RandALCat
    * string must start AND end RandALCat). ASCII passwords pass through
    * byte-identical, so the FakePgServer fixtures (which store verifiers
    * of the raw password) are unaffected.
    */
  private[graft] def saslPrep(pw: String): String = {
    val mapped = pw.codePoints().toArray.flatMap { cp =>
      if (cp == 0x00AD || cp == 0x034F || cp == 0x1806 ||
          (cp >= 0x180B && cp <= 0x180D) || (cp >= 0x200B && cp <= 0x200D) ||
          cp == 0x2060 || (cp >= 0xFE00 && cp <= 0xFE0F) || cp == 0xFEFF)
        Nil // B.1 map-to-nothing
      else if (cp == 0x00A0 || cp == 0x1680 || (cp >= 0x2000 && cp <= 0x200A) ||
          cp == 0x2028 || cp == 0x2029 || cp == 0x202F || cp == 0x205F ||
          cp == 0x3000)
        Seq(0x20) // C.1.2 non-ASCII space → SPACE
      else Seq(cp)
    }
    val prepped = java.text.Normalizer.normalize(
      new String(mapped, 0, mapped.length), java.text.Normalizer.Form.NFKC)
    def prohibit(cp: Int, table: String): Nothing = throw new java.io.IOException(
      f"SCRAM password contains SASLprep-prohibited output U+$cp%04X ($table)")
    val cps = prepped.codePoints().toArray
    cps.foreach { cp =>
      if (cp < 0x20 || cp == 0x7F) prohibit(cp, "C.2.1 ASCII control")
      if ((cp >= 0x80 && cp <= 0x9F) || cp == 0x06DD || cp == 0x070F ||
          cp == 0x180E || cp == 0x2028 || cp == 0x2029 ||
          (cp >= 0x2060 && cp <= 0x2063) || cp == 0xFEFF ||
          (cp >= 0x1D173 && cp <= 0x1D17A)) prohibit(cp, "C.2.2 non-ASCII control")
      if ((cp >= 0xE000 && cp <= 0xF8FF) || (cp >= 0xF0000 && cp <= 0xFFFFD) ||
          (cp >= 0x100000 && cp <= 0x10FFFD)) prohibit(cp, "C.3 private use")
      if ((cp >= 0xFDD0 && cp <= 0xFDEF) || (cp & 0xFFFE) == 0xFFFE)
        prohibit(cp, "C.4 non-character")
      if (cp >= 0xD800 && cp <= 0xDFFF) prohibit(cp, "C.5 surrogate")
      if (cp >= 0xFFF9 && cp <= 0xFFFD) prohibit(cp, "C.6 inappropriate for plain text")
      if (cp >= 0x2FF0 && cp <= 0x2FFB) prohibit(cp, "C.7 ideographic description")
      if (cp == 0x0340 || cp == 0x0341 || cp == 0x200E || cp == 0x200F ||
          (cp >= 0x202A && cp <= 0x202E) || (cp >= 0x206A && cp <= 0x206F))
        prohibit(cp, "C.8 change-display-property/deprecated")
      if (cp == 0xE0001 || (cp >= 0xE0020 && cp <= 0xE007F))
        prohibit(cp, "C.9 tagging")
      if (Character.getType(cp) == Character.UNASSIGNED)
        prohibit(cp, "unassigned code point")
    }
    // RFC 3454 §6 bidi: RandALCat = directionality R or AL; LCat = L
    def dir(cp: Int) = Character.getDirectionality(cp)
    val randAL = cps.exists(cp => dir(cp) == Character.DIRECTIONALITY_RIGHT_TO_LEFT ||
      dir(cp) == Character.DIRECTIONALITY_RIGHT_TO_LEFT_ARABIC)
    if (randAL) {
      if (cps.exists(cp => dir(cp) == Character.DIRECTIONALITY_LEFT_TO_RIGHT))
        throw new java.io.IOException(
          "SCRAM password mixes RandALCat and LCat characters (RFC 3454 §6 rule 2)")
      def isRAL(cp: Int) = dir(cp) == Character.DIRECTIONALITY_RIGHT_TO_LEFT ||
        dir(cp) == Character.DIRECTIONALITY_RIGHT_TO_LEFT_ARABIC
      if (cps.isEmpty || !isRAL(cps.head) || !isRAL(cps.last))
        throw new java.io.IOException(
          "SCRAM password with RandALCat characters must start and end with one (RFC 3454 §6 rule 3)")
    }
    prepped
  }

  /** SCRAM-SHA-256 client conversation (RFC 5802/7677 over the PG SASL
    * framing): runs after AuthenticationSASL offered the mechanism,
    * consuming the SASLContinue/SASLFinal messages itself and returning
    * with AuthenticationOk still unread for the main loop. gs2 header is
    * `n,,` (no channel binding — channel-binding-capable servers still
    * accept `n` clients over TLS; SCRAM-SHA-256-PLUS is out of scope).
    * The server SIGNATURE IS VERIFIED — mutual authentication, not just
    * password proof.
    */
  private def scramSha256(in: java.io.DataInputStream,
      out: java.io.DataOutputStream, pw: String): Unit = {
    val b64 = java.util.Base64.getEncoder
    val rnd = new Array[Byte](18)
    new java.security.SecureRandom().nextBytes(rnd)
    val nonce = b64.encodeToString(rnd)
    // PG ignores n= (the startup message names the user); keep it empty
    val clientFirstBare = s"n=,r=$nonce"
    val mech = "SCRAM-SHA-256\u0000".getBytes(StandardCharsets.UTF_8)
    val initial = ("n,," + clientFirstBare).getBytes(StandardCharsets.UTF_8)
    out.writeByte('p')
    out.writeInt(4 + mech.length + 4 + initial.length)
    out.write(mech); out.writeInt(initial.length); out.write(initial)
    out.flush()

    def readSasl(expectCode: Int): String = {
      val tag = in.readByte().toChar
      val mlen = in.readInt() - 4
      tag match {
        case 'R' =>
          val code = in.readInt()
          if (code != expectCode) throw new java.io.IOException(
            s"expected SASL code $expectCode, got $code")
          val b = new Array[Byte](mlen - 4)
          in.readFully(b)
          new String(b, StandardCharsets.UTF_8)
        case 'E' =>
          val b = new Array[Byte](mlen)
          in.readFully(b)
          throw new java.io.IOException(s"Postgres error: ${errorMessage(b)}")
        case other => throw new java.io.IOException(
          s"unexpected message '$other' during SASL auth")
      }
    }

    val serverFirst = readSasl(11) // AuthenticationSASLContinue
    val attrs = serverFirst.split(',').map(_.split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap
    val serverNonce = attrs.getOrElse("r", throw new java.io.IOException(
      "server-first-message missing r="))
    if (!serverNonce.startsWith(nonce))
      throw new java.io.IOException("server nonce does not extend ours (MITM?)")
    // malformed server-first fields get the same descriptive IOException
    // treatment as a missing r= — never a bare NoSuchElement/NumberFormat
    val salt = try java.util.Base64.getDecoder.decode(attrs.getOrElse("s",
      throw new java.io.IOException("server-first-message missing s= (salt)")))
    catch { case _: IllegalArgumentException => throw new java.io.IOException(
      "server-first-message s= is not valid base64") }
    val iterations = attrs.getOrElse("i", throw new java.io.IOException(
      "server-first-message missing i= (iteration count)"))
    val iterCount =
      try iterations.toInt
      catch { case _: NumberFormatException => throw new java.io.IOException(
        s"server-first-message i= is not an integer: '$iterations'") }
    if (iterCount < 1) throw new java.io.IOException(
      s"server-first-message iteration count must be >= 1, got $iterCount")

    val spec = new javax.crypto.spec.PBEKeySpec(
      saslPrep(pw).toCharArray, salt, iterCount, 256)
    val salted = javax.crypto.SecretKeyFactory
      .getInstance("PBKDF2WithHmacSHA256").generateSecret(spec).getEncoded
    val clientKey = hmacSha256(salted, "Client Key".getBytes(StandardCharsets.UTF_8))
    val storedKey = java.security.MessageDigest.getInstance("SHA-256").digest(clientKey)
    val withoutProof = s"c=biws,r=$serverNonce" // biws = b64("n,,")
    val authMessage = (clientFirstBare + "," + serverFirst + "," + withoutProof)
      .getBytes(StandardCharsets.UTF_8)
    val clientSig = hmacSha256(storedKey, authMessage)
    val proof = clientKey.zip(clientSig).map { case (a, c) => (a ^ c).toByte }
    val finalMsg = (withoutProof + ",p=" + b64.encodeToString(proof))
      .getBytes(StandardCharsets.UTF_8)
    out.writeByte('p'); out.writeInt(4 + finalMsg.length); out.write(finalMsg)
    out.flush()

    val serverFinal = readSasl(12) // AuthenticationSASLFinal: v=<signature>
    val vAttr = serverFinal.split(',').map(_.split("=", 2))
      .collectFirst { case Array("v", v) => v }
      .getOrElse(throw new java.io.IOException("server-final-message missing v="))
    val serverKey = hmacSha256(salted, "Server Key".getBytes(StandardCharsets.UTF_8))
    val expected = b64.encodeToString(hmacSha256(serverKey, authMessage))
    if (vAttr != expected)
      throw new java.io.IOException(
        "server signature verification failed — the server does not know the password")
  }

  /** ErrorResponse body → its 'M' (message) field. Tolerates a truncated
    * body (missing final NUL): the partial field is still surfaced rather
    * than throwing a StringIndexOutOfBounds over the real failure.
    */
  private def errorMessage(b: Array[Byte]): String = {
    var i = 0
    var msg = "unknown error"
    while (i < b.length && b(i) != 0) {
      val typ = b(i).toChar
      val end0 = b.indexOf(0.toByte, i + 1)
      val end = if (end0 < 0) b.length else end0
      val v = new String(b, i + 1, end - i - 1, StandardCharsets.UTF_8)
      if (typ == 'M') msg = v
      i = end + 1
    }
    msg
  }
}

/** [[Source]] over COPY BINARY streams: one transport per stream, one
  * Spark partition per transport, each executor pulling and decoding its
  * own stream — the shape a partition-parallel `COPY (SELECT … WHERE id
  * BETWEEN lo AND hi) TO STDOUT (FORMAT BINARY)` export produces at
  * scale. Transports are recorded files ([[FileTransport]]) or live
  * sockets ([[PgSocketTransport]]); the wire decode is identical.
  * [[CopyBinary.decode]] yields Catalyst rows, so the frame is built over
  * them directly; Spark's scan copies each reused row as it reads it.
  */
final case class PgCopyBinarySource(transports: Seq[CopyTransport],
    cols: Seq[(String, String, Int)]) extends Source {

  override val schema: StructType = PgTypeMapping.toSchema(cols)

  override def load(spark: SparkSession): DataFrame = {
    require(transports.nonEmpty, "no COPY BINARY streams to load")
    val colsB = cols
    val nullOnOverflow = !spark.conf.get(SQLConf.ANSI_ENABLED.key).toBoolean
    val rows = spark.sparkContext
      .parallelize(transports, transports.size)
      .flatMap(t => CopyBinary.decode(t.copyOut(), colsB, nullOnOverflow))
    GraftColumnBridge.fromInternalRows(spark, rows, schema)
  }
}

object PgCopyBinarySource {
  /** Recorded-file convenience (the pre-r8 constructor shape). */
  def fromFiles(paths: Seq[String], cols: Seq[(String, String, Int)]): PgCopyBinarySource =
    PgCopyBinarySource(paths.map(FileTransport(_): CopyTransport), cols)
}
