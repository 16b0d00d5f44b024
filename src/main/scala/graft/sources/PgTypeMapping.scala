package graft.sources

import org.apache.spark.sql.types._

/** The Postgres-source type contract, re-expressed for Spark.
  *
  * Mirrors the reference's 14-type mapping (`pg_type_to_arrow_type`,
  * /root/reference/src/pg_arrow_source.rs:168-188), its J2000→Unix epoch
  * rebase (/root/reference/src/pg_datetime.rs:5-45) and its binary numeric
  * decode (/root/reference/src/pg_numeric.rs:9-67). The container ships no
  * Postgres JDBC driver, so no live source exists; this object IS the
  * documented contract a JDBC/COPY source would plug into, and the unit
  * tests pin the same edge cases the reference tests pin
  * (pg_datetime.rs:53-78, numeric truncation semantics).
  */
object PgTypeMapping {

  /** Days from 1970-01-01 (Unix epoch) to 2000-01-01 (PG epoch). */
  val J2000EpochDays: Int = 10957
  /** Microseconds from the Unix epoch to the PG epoch. */
  val J2000EpochMicros: Long = J2000EpochDays.toLong * 86400L * 1000000L

  /** PG wire DATE (days since 2000-01-01) → days since the Unix epoch. */
  def rebaseDays(pgDays: Int): Int = pgDays + J2000EpochDays

  /** PG wire TIMESTAMP[TZ] (µs since 2000-01-01) → µs since the Unix epoch. */
  def rebaseMicros(pgMicros: Long): Long = pgMicros + J2000EpochMicros

  /** Precision packed in a PG numeric typmod (numeric.c bit layout). */
  def numericTypmodPrecision(typmod: Int): Int = ((typmod - 4) >> 16) & 0xffff

  /** Scale packed in a PG numeric typmod (sign-extended 11-bit field). */
  def numericTypmodScale(typmod: Int): Int = ((((typmod - 4) & 0x7ff) ^ 1024) - 1024)

  /** The supported source types. Any other Postgres type is rejected with
    * the same guidance as the reference (pg_arrow_source.rs:186): cast the
    * column to text in the query. Every mapped field is nullable — the
    * reference marks all source columns nullable unconditionally
    * (pg_arrow_source.rs:233).
    */
  def sparkTypeFor(pgType: String, typmod: Int = -1): DataType = pgType match {
    case "bool"                      => BooleanType
    case "char"                      => ByteType // 1-byte "char"
    case "int2"                      => ShortType
    case "int4"                      => IntegerType
    case "int8"                      => LongType
    case "float4"                    => FloatType
    case "float8"                    => DoubleType
    case "timestamp"                 => TimestampNTZType
    case "timestamptz"               => TimestampType // session TZ pinned UTC
    case "date"                      => DateType
    case "numeric" =>
      if (typmod >= 4)
        DecimalType(numericTypmodPrecision(typmod), numericTypmodScale(typmod))
      else DecimalType(38, 18) // unconstrained numeric
    case "text" | "varchar" | "bpchar" => StringType
    case "bytea"                     => BinaryType
    case other => throw new IllegalArgumentException(
      s"Unsupported Postgres type '$other'. Cast the column to text in the query.")
  }

  /** Schema for a prepared-statement result: names+types in, all-nullable
    * StructType out (the reference's nullable-by-default contract, §1.2).
    */
  def toSchema(cols: Seq[(String, String, Int)]): StructType =
    StructType(cols.map { case (name, pgType, typmod) =>
      StructField(name, sparkTypeFor(pgType, typmod), nullable = true)
    })

  private val NumericPos = 0x0000
  private val NumericNeg = 0x4000
  private val NumericNaN = 0xC000
  private val NumericPInf = 0xD000
  private val NumericNInf = 0xF000

  /** Binary-protocol PG numeric → unscaled decimal value at `resultScale`.
    *
    * Base-10000 digit groups with sign/weight words, exactly as
    * pg_numeric_to_arrow_decimal (pg_numeric.rs:18-67): digits below the
    * target scale are TRUNCATED toward zero, not rounded; NaN/±Inf reject.
    */
  def pgNumericToUnscaled(buf: Array[Byte], resultScale: Int): BigInt = {
    require(buf.length >= 8, "Numeric buffer not long enough")
    def u16(i: Int): Int = ((buf(i) & 0xff) << 8) | (buf(i + 1) & 0xff)
    def s16(i: Int): Int = u16(i).toShort.toInt
    val ndigits = u16(0)
    val weight = s16(2)
    val sign = BigInt(numericSign(u16(4)))
    require(buf.length - 8 >= 2 * ndigits, "Not enough digits in numeric buffer")
    var abs = BigInt(0)
    var i = 0
    while (i < ndigits) {
      val digit = u16(8 + 2 * i)
      // base-10 weight of this base-10000 digit in the unscaled result
      val dweight = 4 * (weight - i) + resultScale
      if (dweight <= -4) () // too small to contribute
      else if (dweight == -3) abs += digit / 1000
      else if (dweight == -2) abs += digit / 100
      else if (dweight == -1) abs += digit / 10
      else abs += BigInt(10).pow(dweight) * digit
      i += 1
    }
    abs * sign
  }

  /** Returned by [[pgNumericToUnscaledLong]] when the result has more than
    * 18 digits. No 18-digit value equals it.
    */
  val UnscaledOverflow: Long = Long.MinValue

  private val Pow10: Array[Long] = Array.iterate(1L, 19)(_ * 10L)

  /** [[pgNumericToUnscaled]] for the `len` bytes at `off` of `buf`, in a
    * `Long` and without `BigInt`: the same truncation, the same checks and
    * NaN/±Inf rejection. Returns [[UnscaledOverflow]] when the truncated
    * result's magnitude is 10^18 or more.
    */
  def pgNumericToUnscaledLong(buf: Array[Byte], off: Int, len: Int, resultScale: Int): Long = {
    require(len >= 8, "Numeric buffer not long enough")
    def u16(i: Int): Int = ((buf(off + i) & 0xff) << 8) | (buf(off + i + 1) & 0xff)
    val ndigits = u16(0)
    val weight = u16(2).toShort.toInt
    val sign = numericSign(u16(4))
    require(len - 8 >= 2 * ndigits, "Not enough digits in numeric buffer")
    var abs = 0L
    var i = 0
    while (i < ndigits) {
      val digit = u16(8 + 2 * i)
      val dweight = 4 * (weight - i) + resultScale
      if (dweight <= -4) ()
      else if (dweight < 0) abs += digit / Pow10(-dweight).toInt
      else if (dweight >= 18) { if (digit != 0) return UnscaledOverflow }
      // each term and the running sum stay below 10^18, so nothing wraps
      else if (digit >= Pow10(18 - dweight)) return UnscaledOverflow
      else abs += digit * Pow10(dweight)
      if (abs >= Pow10(18)) return UnscaledOverflow
      i += 1
    }
    abs * sign
  }

  /** The sign word of a wire numeric as ±1; NaN and ±Inf reject. */
  private def numericSign(word: Int): Int = word match {
    case NumericPos => 1
    case NumericNeg => -1
    case NumericNaN => throw new IllegalArgumentException("Cannot convert numeric NaN")
    case NumericPInf => throw new IllegalArgumentException("Cannot convert numeric +Inf")
    case NumericNInf => throw new IllegalArgumentException("Cannot convert numeric -Inf")
    case other => throw new IllegalArgumentException(s"Unexpected numeric sign: $other")
  }
}
