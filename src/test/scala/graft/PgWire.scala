package graft

/** Test-side encoders for the Postgres binary wire: numerics by an
  * independent string-based base-10000 grouping, written apart from the
  * decoder they check, and whole COPY BINARY streams.
  */
object PgWire {

  /** Encode a BigDecimal into the PG binary numeric layout. */
  def numeric(v: BigDecimal): Array[Byte] = {
    val neg = v.signum < 0
    val abs = v.abs
    val s = abs.underlying().toPlainString
    val (intPart, fracPart) = s.span(_ != '.') match {
      case (i, f) => (i, f.drop(1))
    }
    val intPad = "0" * ((4 - intPart.length % 4) % 4) + intPart
    val fracPad = fracPart + "0" * ((4 - fracPart.length % 4) % 4)
    var groups = (intPad + fracPad).grouped(4).map(_.toInt).toVector
    var weight = intPad.length / 4 - 1
    // strip leading zero groups (weight shrinks), then trailing zero groups
    while (groups.length > 1 && groups.head == 0) { groups = groups.tail; weight -= 1 }
    while (groups.length > 1 && groups.last == 0) groups = groups.init
    if (groups == Vector(0)) { groups = Vector(); weight = 0 }
    val out = new Array[Byte](8 + 2 * groups.length)
    def put16(i: Int, x: Int): Unit = { out(i) = ((x >> 8) & 0xff).toByte; out(i + 1) = (x & 0xff).toByte }
    put16(0, groups.length)
    put16(2, weight & 0xffff)
    put16(4, if (neg) 0x4000 else 0x0000)
    put16(6, math.max(0, v.scale))
    groups.zipWithIndex.foreach { case (g, i) => put16(8 + 2 * i, g) }
    out
  }

  /** A NaN (0xC000), +Inf (0xD000) or -Inf (0xF000) wire numeric. */
  def special(signWord: Int): Array[Byte] =
    Array[Byte](0, 0, 0, 0, (signWord >> 8).toByte, signWord.toByte, 0, 0)

  /** One complete COPY BINARY stream of `tuples` (None = NULL field). */
  def copyStream(tuples: Seq[Seq[Option[Array[Byte]]]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    dos.write(graft.sources.CopyBinary.Signature)
    dos.writeInt(0) // flags
    dos.writeInt(0) // header extension length
    tuples.foreach { fields =>
      dos.writeShort(fields.length)
      fields.foreach {
        case None => dos.writeInt(-1)
        case Some(b) => dos.writeInt(b.length); dos.write(b)
      }
    }
    dos.writeShort(-1) // trailer
    dos.flush()
    bos.toByteArray
  }
}
