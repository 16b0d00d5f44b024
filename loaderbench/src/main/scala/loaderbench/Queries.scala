package loaderbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The corpus the declared queries read, in the table layout `graft.Tables`
  * expects: the TPC-H-shaped tables plus `documents` and `embeddings` (no
  * query of the mix reads `events`). It is made from a fixed data seed (the
  * run's seed only orders the queries), so each query's result can be
  * pinned.
  */
object QueryCorpus {
  val DataSeed = 42L
  private val Words = Array("row", "the", "query", "stream", "fast", "spark", "line", "small",
    "customer", "group", "value", "hash", "batch", "sort", "data", "big", "filter", "dup", "key",
    "agg", "scan", "slow", "table", "part", "a", "merge", "window", "order", "column", "join", "vector")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Adjectives = Array("blue", "old", "small", "new", "hot", "large", "cold", "red")
  private val Nouns = Array("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
  private val Types = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Flags = Array("A", "N", "R")
  private val LineStatuses = Array("F", "O")
  private val DayMs = 86400000L
  private val Y1995 = 9131L // 1995-01-01 in epoch days

  private def r(table: Int, i: Long, f: Int, n: Long) = Rnd.below(DataSeed, i, table * 100 + f, n)
  private def cents(x: Long) = x / 100.0
  private def day(d: Long) = new Timestamp(d * DayMs)

  private def baseText(d: Long): Array[String] = {
    val n = 8 + r(9, d, 1, 90).toInt
    Array.tabulate(n)(k => Words(r(9, d, 10 + k, Words.length).toInt))
  }

  /** One doc in ten near-duplicates an earlier one: its words with two
    * substitutions.
    */
  def text(d: Long): String =
    if (d > 0 && r(9, d, 2, 10) == 0) {
      val w = baseText(d - 1 - r(9, d, 3, math.min(d, 50L)))
      w(r(9, d, 4, w.length).toInt) = Words(r(9, d, 5, Words.length).toInt)
      w(r(9, d, 6, w.length).toInt) = Words(r(9, d, 7, Words.length).toInt)
      w.mkString(" ")
    } else baseText(d).mkString(" ")

  private def table(spark: SparkSession, dir: Path, name: String, rows: Long, files: Int,
      schema: StructType)(row: Long => Row): () => Unit = () => {
    val rdd = spark.sparkContext.range(0L, rows, 1L, files).map(row)
    spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
  }

  private def st(fields: (String, DataType)*) = StructType(fields.map { case (n, t) => StructField(n, t) })

  def generate(spark: SparkSession, dir: Path, sf: Double): Unit = {
    Files.createDirectories(dir)
    val customers = (150000 * sf).toLong
    val suppliers = math.max(10L, (10000 * sf).toLong)
    val parts = (200000 * sf).toLong
    val orders = (1500000 * sf).toLong
    val lines = (6000000 * sf).toLong
    val writers = Seq(
      table(spark, dir, "region", 5, 1, st("r_regionkey" -> IntegerType, "r_name" -> StringType)) { i =>
        Row(i.toInt, Regions(i.toInt)) },
      table(spark, dir, "nation", 25, 1,
        st("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType)) { i =>
        Row(i.toInt, s"NATION_$i", (i % 5).toInt) },
      table(spark, dir, "customer", customers, 1, st("c_custkey" -> LongType, "c_name" -> StringType,
          "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType)) { i =>
        Row(i, f"Customer#$i%09d", r(1, i, 1, 25).toInt, cents(r(1, i, 2, 1099200) - 99900),
          Segments(r(1, i, 3, 5).toInt)) },
      table(spark, dir, "supplier", suppliers, 1, st("s_suppkey" -> LongType, "s_name" -> StringType,
          "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType)) { i =>
        Row(i, f"Supplier#$i%09d", r(2, i, 1, 25).toInt, cents(r(2, i, 2, 1099200) - 99900)) },
      table(spark, dir, "part", parts, 1, st("p_partkey" -> LongType, "p_name" -> StringType,
          "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
          "p_retailprice" -> DoubleType)) { i =>
        Row(i, s"${Adjectives(r(3, i, 1, 8).toInt)} ${Nouns(r(3, i, 2, 8).toInt)}",
          s"Brand#${r(3, i, 3, 25) + 1}", Types(r(3, i, 4, 6).toInt), r(3, i, 5, 50).toInt + 1,
          900.0 + (i % 1000) / 10.0) },
      table(spark, dir, "orders", orders, 2, st("o_orderkey" -> LongType, "o_custkey" -> LongType,
          "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType,
          "o_orderpriority" -> StringType)) { i =>
        Row(i, r(4, i, 1, customers), OrdersGen.Statuses(r(4, i, 2, 3).toInt),
          cents(r(4, i, 3, 49896489) + 101370), day(Y1995 + r(4, i, 4, 2404)),
          OrdersGen.Prios(r(4, i, 5, 5).toInt)) },
      table(spark, dir, "lineitem", lines, 4, st("l_orderkey" -> LongType, "l_partkey" -> LongType,
          "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
          "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
          "l_returnflag" -> StringType, "l_linestatus" -> StringType, "l_shipdate" -> TimestampType)) { i =>
        Row(r(5, i, 1, orders), r(5, i, 2, parts), r(5, i, 3, suppliers), r(5, i, 4, 7).toInt + 1,
          (r(5, i, 5, 50) + 1).toDouble, cents(r(5, i, 6, 10409606) + 90182), r(5, i, 7, 11) / 100.0,
          r(5, i, 8, 9) / 100.0, Flags(r(5, i, 9, 3).toInt),
          LineStatuses(r(5, i, 10, 2).toInt), day(Y1995 + 1 + r(5, i, 11, 2497))) },
      table(spark, dir, "documents", (50000 * sf).toLong, 1, st("doc_id" -> LongType,
          "text" -> StringType, "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType)) { i =>
        val t = text(i)
        Row(i, t, Langs(r(7, i, 1, Langs.length).toInt), s"src${r(7, i, 2, 20)}", t.length.toLong) },
      table(spark, dir, "embeddings", (50000 * sf).toLong, 1, st("vec_id" -> LongType,
          "embedding" -> ArrayType(FloatType), "label" -> IntegerType)) { i =>
        val label = r(8, i, 1, 10).toInt
        val v = Array.tabulate(64) { d =>
          ((r(8, label, 1000 + d, 60001) - 30000) / 1e5 + (r(8, i, 100 + d, 20001) - 10000) / 1e5).toFloat }
        Row(i, v.toSeq, label) })
    // the tables are small, so their jobs are mostly fixed cost: run them side by side
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try writers.map(w => pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = w() }))
      .foreach(_.get())
    finally pool.shutdown()
  }
}

/** The declared read-only queries the `table-upkeep` cycle runs (from
  * `SparkEntry.queries`; none of them creates tables), on the seeded
  * corpus. Each is materialised through its [[Digest]], which reads every
  * result row and is checked against the digest pinned for it.
  */
final class DeclaredQueries(ctx: Ctx) {
  import ctx.spark
  private val corpus = ctx.work.resolve("corpus")
  private val digestFile = java.nio.file.Paths.get(sys.props.getOrElse("loaderbench.digests",
    sys.error("-Dloaderbench.digests=<file> names the pinned query digests")))
  private val got = scala.collection.mutable.LinkedHashMap.empty[String, Digest]
  /** Queries whose digest differed between runs. */
  private val unstable = scala.collection.mutable.Set.empty[String]

  def generate(): Unit = QueryCorpus.generate(spark, corpus, DeclaredQueries.Scale)

  def run(q: String): Unit = {
    val d = Digest(graft.SparkEntry.queries(q)(spark, corpus.toString))
    graft.CachedBlocks.releaseAll(spark)
    if (!got.contains(q)) got(q) = d
    else if (got(q) != d) unstable += q
  }

  /** Each query's digest must equal the pinned one. To re-pin, copy the
    * `digests` of a traced run's trace file (same `rows h1 h2` form) into the
    * digest file, from a commit whose queries pass the oracle.
    */
  def verify(): Unit = {
    val pinned = Digest.load(digestFile)
    DeclaredQueries.Names.foreach { q =>
      ctx.check(s"$q result matches its pinned row count and digest") {
        val ok = pinned.contains(q) && pinned.get(q) == got.get(q) && !unstable(q)
        if (!ok) System.err.println(s"[loaderbench] $q: got ${got.get(q)}, pinned ${pinned.get(q)}")
        ok
      }
    }
  }

  def digests: Map[String, String] = got.map { case (q, d) => q -> d.toString }.toMap
}

object DeclaredQueries {
  /** Scale factor of the query corpus. */
  val Scale = 0.01
  /** A scan-and-aggregate, a five-way join and an iterative operator of
    * 44 Spark jobs.
    */
  val Names: Seq[String] = Seq("q_tpch_q1", "q_tpch_q9", "q_graph_pagerank")
}

/** Order-insensitive digest of a query result: the row count and two sums
  * of a row hash. Floating-point columns are rounded to 4 decimals first,
  * so summation order cannot change the digest.
  */
final case class Digest(rows: Long, h1: Long, h2: Long) {
  override def toString: String = s"$rows\t$h1\t$h2"
}

object Digest {
  private def norm(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 4) + lit(0.0)
    case ArrayType(et @ (DoubleType | FloatType), _) => transform(c, x => norm(x, et))
    case _ => c
  }

  def apply(df: DataFrame): Digest = {
    val cs = df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cs.isEmpty) lit(0L) else xxhash64(cs.toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))), sum(shiftrightunsigned(h, 32))).head()
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** `query <tab> rows <tab> h1 <tab> h2` lines. */
  def load(p: Path): Map[String, Digest] =
    if (!Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile).getLines().filter(_.nonEmpty).map(_.split('\t')).map {
      a => a(0) -> Digest(a(1).toLong, a(2).toLong, a(3).toLong)
    }.toMap
}
