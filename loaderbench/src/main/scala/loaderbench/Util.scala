package loaderbench

import java.nio.file.{Files, Path}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of p99/p95/p90/p75/p50 that still has at least 10 samples
    * above it, with the percentile used; the median below 20 samples.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = Seq(99.0, 95.0, 90.0, 75.0).find(p => xs.size * (100 - p) / 100 >= 10).getOrElse(50.0)
    (p, percentile(xs, p))
  }
}

/** A tiny JSON writer for the result lines and the trace file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product if p.productArity > 0 =>
      p.productElementNames.zip(p.productIterator)
        .map { case (k, x) => quote(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}

/** splitmix64: the seeded, order-free random source every generator uses,
  * so any row can be made from (seed, row index, field) alone.
  */
object Rnd {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def apply(seed: Long, row: Long, field: Int): Long =
    mix(mix(seed * 0x2545F4914F6CDD1DL + field) + row)
  def below(seed: Long, row: Long, field: Int, n: Long): Long =
    java.lang.Long.remainderUnsigned(apply(seed, row, field), n)
}

/** Host speed probe, for the report line's host tags. The vCPUs of a shared
  * virtual machine lose a varying share of their time to other tenants
  * (steal time), so a run's wall times move with the host, not only with the
  * program; a slow canary flags a run measured on a busy host. It times a
  * fixed integer workload on every core at once (about 0.12 s on a 4-vCPU,
  * 2.1 GHz virtual machine).
  */
object Canary {
  private val Iters = 20000000
  private val threads = Runtime.getRuntime.availableProcessors()
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "canary"); t.setDaemon(true); t })
  @volatile private var sink = 0L

  /** One timing of the canary, in seconds. */
  private def sample(): Double = {
    val t0 = System.nanoTime()
    val fs = (0 until threads).map(k => pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = { var z = k.toLong; var i = 0; while (i < Iters) { z = Rnd.mix(z + i); i += 1 }; z }
    }))
    sink ^= fs.map(_.get()).sum
    (System.nanoTime() - t0) / 1e9
  }

  /** The median of three timings, after one untimed run. */
  def probe(): Double = { sample(); Stats.median(Seq.fill(3)(sample())) }
}
