package graft

import graft.sources.PgTypeMapping
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property tests for the PG numeric wire decode: an independent encoder
  * ([[PgWire.numeric]], string-based base-10000 grouping) feeds
  * random decimals through [[PgTypeMapping.pgNumericToUnscaled]]; the
  * result must equal the value truncated toward zero at the target scale —
  * the reference's semantic (pg_numeric.rs:51-59 discards the remainder).
  */
class NumericPropertySpec extends AnyFunSuite {

  private def encode(v: BigDecimal): Array[Byte] = PgWire.numeric(v)

  test("decode(encode(v), s) == truncate-toward-zero(v * 10^s) for random decimals") {
    val gen = for {
      unscaled <- Gen.chooseNum(-999999999999999L, 999999999999999L)
      scale <- Gen.chooseNum(0, 6)
      resultScale <- Gen.chooseNum(0, 6)
    } yield (BigDecimal(BigInt(unscaled), scale), resultScale)
    val prop = Prop.forAll(gen) { t =>
      val (v, resultScale) = t
      val expected = (v * BigDecimal(10).pow(resultScale))
        .setScale(0, BigDecimal.RoundingMode.DOWN).toBigInt
      PgTypeMapping.pgNumericToUnscaled(encode(v), resultScale) == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("reference fixture edge values decode at their declared scale") {
    // the shapes exercised by the reference fixture's hand-set numeric edge
    // rows (tests/postgres-init-scripts/init-pg-data.sql): max/min digits,
    // sub-scale truncation, zero
    Seq(
      (BigDecimal("0"), 2, BigInt(0)),
      (BigDecimal("0.01"), 2, BigInt(1)),
      (BigDecimal("-0.01"), 2, BigInt(-1)),
      (BigDecimal("12345.6789"), 2, BigInt(1234567)),
      (BigDecimal("-12345.6789"), 2, BigInt(-1234567)),
      (BigDecimal("99999999.99"), 2, BigInt(9999999999L)),
      (BigDecimal("10000"), 0, BigInt(10000)),
      (BigDecimal("0.0001"), 4, BigInt(1))
    ).foreach { case (v, rs, want) =>
      assert(PgTypeMapping.pgNumericToUnscaled(encode(v), rs) == want, s"v=$v")
    }
  }

  test("the Long fast path equals pgNumericToUnscaled wherever its result fits 18 digits") {
    // magnitudes from 0 to 30 digits at scales 0–20 straddle the 10^18
    // limit from both sides; the value sits at a random offset of a larger
    // buffer, as it does inside a COPY stream
    val gen = for {
      digits <- Gen.chooseNum(1, 30)
      unscaled <- Gen.listOfN(digits, Gen.numChar).map(ds => BigInt(ds.mkString))
      negative <- Gen.oneOf(true, false)
      scale <- Gen.chooseNum(0, 20)
      resultScale <- Gen.chooseNum(0, 20)
      pad <- Gen.chooseNum(0, 5)
    } yield (BigDecimal(if (negative) -unscaled else unscaled, scale), resultScale, pad)
    val limit = BigInt(10).pow(18)
    val prop = Prop.forAll(gen) { t =>
      val (v, resultScale, pad) = t
      val wire = encode(v)
      val buf = Array.fill[Byte](pad)(0x55) ++ wire ++ Array.fill[Byte](pad)(0x55)
      val big = PgTypeMapping.pgNumericToUnscaled(wire, resultScale)
      val fast = PgTypeMapping.pgNumericToUnscaledLong(buf, pad, wire.length, resultScale)
      if (big.abs < limit) fast == big.toLong
      else fast == PgTypeMapping.UnscaledOverflow
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(1000), prop)
    assert(res.passed, res.status.toString)
  }

  test("the Long fast path rejects NaN, infinities and short buffers like pgNumericToUnscaled") {
    Seq(0xC000 -> "NaN", 0xD000 -> "+Inf", 0xF000 -> "-Inf", 0x1234 -> "sign").foreach {
      case (word, what) =>
        val b = PgWire.special(word)
        val slow = intercept[IllegalArgumentException](PgTypeMapping.pgNumericToUnscaled(b, 2))
        val fast = intercept[IllegalArgumentException](
          PgTypeMapping.pgNumericToUnscaledLong(b, 0, b.length, 2))
        assert(fast.getMessage == slow.getMessage && fast.getMessage.contains(what))
    }
    val short = encode(BigDecimal("12.5")).take(6)
    intercept[IllegalArgumentException](PgTypeMapping.pgNumericToUnscaledLong(short, 0, 6, 2))
    // a digit count the buffer does not hold
    val cut = encode(BigDecimal("12345678.9"))
    intercept[IllegalArgumentException](
      PgTypeMapping.pgNumericToUnscaledLong(cut, 0, cut.length - 2, 2))
  }
}
