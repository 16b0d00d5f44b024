package graft

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import scala.util.{Failure, Success, Try}

import graft.sources.{CopyBinary, PgCopyBinarySource, PgTypeMapping}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.scalacheck.{Arbitrary, Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** [[CopyBinary.decode]] writes wire fields straight into Catalyst rows.
  * This spec keeps the decoding it replaced as the reference: each field
  * to its external JVM value (`String`, `java.math.BigDecimal`,
  * `LocalDate`, `Instant`, …), then through Spark's
  * `CatalystTypeConverters`. Both must give the same cells, or fail with
  * the same error.
  */
class CopyBinaryDecodeSpec extends AnyFunSuite {

  /** NUMERIC(p,s) typmod: ((precision << 16) | scale) + VARHDRSZ. */
  private def numericTypmod(p: Int, s: Int) = ((p << 16) | s) + 4

  private val cols = Seq(
    ("cbool", "bool", -1), ("cchar", "char", -1), ("cint2", "int2", -1),
    ("cint4", "int4", -1), ("cint8", "int8", -1), ("cfloat4", "float4", -1),
    ("cfloat8", "float8", -1), ("cts", "timestamp", -1), ("ctstz", "timestamptz", -1),
    ("cdate", "date", -1),
    ("cn8_3", "numeric", numericTypmod(8, 3)), ("cn18_4", "numeric", numericTypmod(18, 4)),
    ("cn19_4", "numeric", numericTypmod(19, 4)), ("cn38_10", "numeric", numericTypmod(38, 10)),
    ("cnum", "numeric", -1), // unconstrained: DECIMAL(38,18)
    ("ctext", "text", -1), ("cvarchar", "varchar", -1), ("cbpchar", "bpchar", -1),
    ("cbytea", "bytea", -1))

  // ---- the reference: the decoding CopyBinary.decode replaced ----

  private def externalValue(pgType: String, typmod: Int, b: Array[Byte]): Any = {
    def bb = ByteBuffer.wrap(b)
    def micros(us: Long): (Long, Int) =
      (Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt)
    pgType match {
      case "bool" => b(0) != 0
      case "char" => b(0)
      case "int2" => bb.getShort
      case "int4" => bb.getInt
      case "int8" => bb.getLong
      case "float4" => bb.getFloat
      case "float8" => bb.getDouble
      case "timestamp" =>
        val (s, n) = micros(PgTypeMapping.rebaseMicros(bb.getLong))
        LocalDateTime.ofEpochSecond(s, n, ZoneOffset.UTC)
      case "timestamptz" =>
        val (s, n) = micros(PgTypeMapping.rebaseMicros(bb.getLong))
        Instant.ofEpochSecond(s, n)
      case "date" => LocalDate.ofEpochDay(PgTypeMapping.rebaseDays(bb.getInt).toLong)
      case "numeric" =>
        val scale = if (typmod >= 4) PgTypeMapping.numericTypmodScale(typmod) else 18
        new java.math.BigDecimal(PgTypeMapping.pgNumericToUnscaled(b, scale).bigInteger, scale)
      case "text" | "varchar" | "bpchar" => new String(b, StandardCharsets.UTF_8)
      case "bytea" => b
    }
  }

  /** Reference cells of each tuple, in Catalyst's internal representation. */
  private def reference(tuples: Seq[Seq[Option[Array[Byte]]]]): Seq[Seq[Any]] = {
    val converters = cols.map { case (_, t, m) =>
      CatalystTypeConverters.createToCatalystConverter(PgTypeMapping.sparkTypeFor(t, m))
    }
    tuples.map(_.zip(cols).zip(converters).map { case ((field, (_, t, m)), conv) =>
      field.map(b => conv(externalValue(t, m, b))).orNull
    })
  }

  /** Decoded cells; rows are copied because decode refills one row. */
  private def decoded(tuples: Seq[Seq[Option[Array[Byte]]]]): Seq[Seq[Any]] = {
    val types = cols.map { case (_, t, m) => PgTypeMapping.sparkTypeFor(t, m) }
    CopyBinary.decode(PgWire.copyStream(tuples), cols).map(_.copy()).toList
      .map(r => types.indices.map(i => r.get(i, types(i))))
  }

  private def sameOutcome(tuples: Seq[Seq[Option[Array[Byte]]]]): Boolean =
    (Try(reference(tuples)), Try(decoded(tuples))) match {
      case (Success(want), Success(got)) =>
        want.length == got.length && want.zip(got).forall { case (w, g) =>
          w.zip(g).forall { case (a, b) => java.util.Objects.deepEquals(a, b) }
        }
      case (Failure(want), Failure(got)) =>
        want.getClass == got.getClass && want.getMessage == got.getMessage
      case _ => false
    }

  // ---- wire generators ----

  private def be16(v: Int) = ByteBuffer.allocate(2).putShort(v.toShort).array()
  private def be32(v: Int) = ByteBuffer.allocate(4).putInt(v).array()
  private def be64(v: Long) = ByteBuffer.allocate(8).putLong(v).array()

  private val anyBytes: Gen[Array[Byte]] =
    Gen.listOf(Arbitrary.arbitrary[Byte]).map(_.toArray)

  private val text: Gen[Array[Byte]] = Gen.frequency(
    4 -> Gen.alphaNumStr.map(_.getBytes(StandardCharsets.UTF_8)),
    3 -> Arbitrary.arbitrary[String].map(_.getBytes(StandardCharsets.UTF_8)),
    1 -> Gen.const("añ€😀".getBytes(StandardCharsets.UTF_8)),
    2 -> anyBytes, // mostly malformed
    2 -> Gen.oneOf( // malformed edge shapes, each inside valid text
      Seq(0xC0, 0x80), Seq(0xE0, 0x80, 0x80), Seq(0xED, 0xA0, 0x80), // overlong, surrogate
      Seq(0xF4, 0x90, 0x80, 0x80), Seq(0xF5, 0x80), Seq(0xE2, 0x82), // > U+10FFFF, bad lead, cut
      Seq(0x80), Seq(0xF0, 0x9F, 0x98)) // stray continuation, cut 4-byte
      .map(bad => "ab".getBytes ++ bad.map(_.toByte) ++ "cd".getBytes))

  private def digitString(n: Int): Gen[String] = Gen.listOfN(n, Gen.numChar).map(_.mkString)

  /** A wire numeric for DECIMAL(p,s): mostly in range with extra fraction
    * digits to truncate, sometimes with too many integer digits, rarely
    * NaN or ±Inf.
    */
  private def numeric(p: Int, s: Int): Gen[Array[Byte]] = {
    def value(intDigits: Gen[Int]) = for {
      id <- intDigits
      fd <- Gen.chooseNum(0, s + 3)
      ip <- digitString(id)
      fp <- digitString(fd)
      neg <- Arbitrary.arbitrary[Boolean]
    } yield {
      val v = BigDecimal((if (ip.isEmpty) "0" else ip) + (if (fp.isEmpty) "" else "." + fp))
      PgWire.numeric(if (neg) -v else v)
    }
    Gen.frequency(
      60 -> value(Gen.chooseNum(0, p - s)),
      2 -> value(Gen.chooseNum(p - s + 1, p - s + 3)),
      1 -> Gen.oneOf(0xC000, 0xD000, 0xF000).map(PgWire.special))
  }

  private def field(pgType: String, typmod: Int): Gen[Array[Byte]] = pgType match {
    case "bool" | "char" => Arbitrary.arbitrary[Byte].map(Array(_))
    case "int2" => Arbitrary.arbitrary[Short].map(v => be16(v.toInt))
    case "int4" | "float4" => Arbitrary.arbitrary[Int].map(be32)
    case "int8" | "float8" => Arbitrary.arbitrary[Long].map(be64)
    // ±infinity is Long.MaxValue/MinValue on the wire; its rebase wraps
    case "timestamp" | "timestamptz" =>
      Gen.frequency(8 -> Arbitrary.arbitrary[Long], 1 -> Gen.oneOf(Long.MaxValue, Long.MinValue))
        .map(be64)
    case "date" =>
      Gen.frequency(8 -> Arbitrary.arbitrary[Int], 1 -> Gen.oneOf(Int.MaxValue, Int.MinValue))
        .map(be32)
    case "numeric" =>
      val dt = PgTypeMapping.sparkTypeFor(pgType, typmod)
        .asInstanceOf[org.apache.spark.sql.types.DecimalType]
      numeric(dt.precision, dt.scale)
    case "text" | "varchar" | "bpchar" => text
    case "bytea" => anyBytes
  }

  private val tuple: Gen[Seq[Option[Array[Byte]]]] =
    Gen.sequence[List[Option[Array[Byte]]], Option[Array[Byte]]](cols.map { case (_, t, m) =>
      Gen.frequency(1 -> Gen.const(None), 6 -> field(t, m).map(Some(_)))
    })

  test("decode equals external values through CatalystTypeConverters, NULLs and failures included") {
    val prop = Prop.forAll(Gen.chooseNum(0, 4).flatMap(n => Gen.listOfN(n, tuple))) { tuples =>
      sameOutcome(tuples)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("decode edge cells: truncation, the 18/19-digit boundary, infinities, malformed text") {
    def row(overrides: (String, Array[Byte])*): Seq[Option[Array[Byte]]] = {
      val m = overrides.toMap
      cols.map { case (n, _, _) => m.get(n) }
    }
    def num(s: String) = PgWire.numeric(BigDecimal(s))
    val cases = Seq(
      row("cn8_3" -> num("-12345.67891")), // truncated toward zero to -12345.678
      row("cn8_3" -> num("99999.9999")), // truncates to the largest DECIMAL(8,3)
      row("cn8_3" -> num("-100000")), // unscaled exactly 10^8: one digit too many
      row("cn18_4" -> num("100000000000000")), // unscaled exactly 10^18
      row("cn18_4" -> num("99999999999999.99999")), // 18 digits, the Long path's top
      row("cn18_4" -> num("-99999999999999.9999")),
      row("cn19_4" -> num("999999999999999.9999")), // 19 digits, the wide path
      row("cn19_4" -> num("-0.00009")),
      row("cnum" -> num("12345678901234567890.123456789012345678999")), // 38,18 truncates
      row("cts" -> be64(Long.MaxValue), "ctstz" -> be64(Long.MinValue),
        "cdate" -> be32(Int.MaxValue)),
      row("ctstz" -> be64(Long.MaxValue), "cts" -> be64(Long.MinValue),
        "cdate" -> be32(Int.MinValue)),
      row("ctext" -> Array(0x61, 0xC3, 0x28, 0xED, 0xA0, 0x80).map(_.toByte)),
      row("cbytea" -> Array[Byte](0, -1, 0x7f, -128)),
      row()) // every field NULL
    cases.foreach(t => assert(sameOutcome(Seq(t)), s"tuple ${t.map(_.map(_.toSeq))}"))
    // malformed text reads as Java's decoder replaces it
    val got = decoded(Seq(row("ctext" -> Array(0x61, 0xC3, 0x28).map(_.toByte))))
    assert(got.head(cols.indexWhere(_._1 == "ctext")).toString == "a\uFFFD(")
  }

  test("decode rejects NaN/±Inf numerics and numerics past their declared precision") {
    Seq(0xC000 -> "NaN", 0xD000 -> "+Inf", 0xF000 -> "-Inf").foreach { case (w, what) =>
      Seq("cn8_3", "cn19_4").foreach { c =>
        val t = cols.map { case (n, _, _) => if (n == c) Some(PgWire.special(w)) else None }
        val e = intercept[IllegalArgumentException](decoded(Seq(t)))
        assert(e.getMessage.contains(what))
        assert(sameOutcome(Seq(t)))
      }
    }
    // 9 integer digits into DECIMAL(8,3) and 16 into DECIMAL(19,4): the
    // session is ANSI, so both conversions fail rather than read NULL
    Seq("cn8_3" -> "123456.789", "cn19_4" -> "1234567890123456").foreach { case (c, v) =>
      val t = cols.map { case (n, _, _) => if (n == c) Some(PgWire.numeric(BigDecimal(v))) else None }
      intercept[ArithmeticException](decoded(Seq(t)))
      assert(sameOutcome(Seq(t)))
    }
  }

  test("decode rejects a fixed-width field of the wrong size and a stream cut mid-field") {
    val c = Seq(("a", "int4", -1), ("b", "text", -1))
    val wide = PgWire.copyStream(Seq(Seq(Some(be64(1L)), Some("x".getBytes))))
    val e = intercept[IllegalArgumentException](CopyBinary.decode(wide, c).toList)
    assert(e.getMessage.contains("field a has 8 bytes"))
    val whole = PgWire.copyStream(Seq(Seq(Some(be32(1)), Some("hello".getBytes))))
    val cut = whole.take(whole.length - 5) // drops "llo" and the trailer
    intercept[java.nio.BufferUnderflowException](CopyBinary.decode(cut, c).toList)
  }

  test("decode refills one reused row object") {
    val t = cols.map(_ => Option.empty[Array[Byte]])
    val it = CopyBinary.decode(PgWire.copyStream(Seq(t, t)), cols)
    assert(it.next() eq it.next())
  }

  test("a numeric past its declared precision fails a load under ANSI and reads NULL without") {
    val spark = TestSpark.spark
    val c = Seq(("id", "int8", -1), ("n", "numeric", numericTypmod(8, 3)))
    val path = Files.createTempFile("graft-overflow", ".pgcopy")
    Files.write(path, PgWire.copyStream(Seq(
      Seq(Some(be64(1L)), Some(PgWire.numeric(BigDecimal("123456.789")))), // 9 digits
      Seq(Some(be64(2L)), Some(PgWire.numeric(BigDecimal("12345.678")))))))
    def load() = PgCopyBinarySource.fromFiles(Seq(path.toString), c).load(spark)
      .orderBy("id").collect().toSeq
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      val e = intercept[Exception](load())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), e.toString)
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val rows = load()
      assert(rows.map(_.isNullAt(1)) == Seq(true, false))
      assert(rows(1).getDecimal(1) == new java.math.BigDecimal("12345.678"))
      // a plain RDD job carries no SQL conf to its tasks: the session's
      // setting still decides
      val frame = PgCopyBinarySource.fromFiles(Seq(path.toString), c).load(spark)
      assert(frame.rdd.map(_.isNullAt(1)).collect().toSeq == Seq(true, false))
      spark.conf.set("spark.sql.ansi.enabled", "true")
      val frameAnsi = PgCopyBinarySource.fromFiles(Seq(path.toString), c).load(spark)
      intercept[Exception](frameAnsi.rdd.count())
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }
}
