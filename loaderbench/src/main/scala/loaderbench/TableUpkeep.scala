package loaderbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sinks.{DeltaSink, IcebergSink}

/** One `orders` row, as the plain model of a table holds it. */
final case class Order(key: Long, cust: Long, status: String, price: Double,
    dateDays: Int, prio: String) {
  def toRow: Row = Row(key, cust, status, price, LocalDate.ofEpochDay(dateDays.toLong), prio)
}

/** One entry of the seeded op log. */
sealed trait UpkeepOp { def write: Boolean }
final case class Append(rows: Seq[Order]) extends UpkeepOp { val write = true }
final case class Merge(rows: Seq[Order]) extends UpkeepOp { val write = true }
/** DV delete of the rows with `o_custkey % 200 = r` (about 0.5%). */
final case class DeleteDV(r: Int) extends UpkeepOp { val write = true }
/** DV update of the rows with `o_orderkey % 200 = r`. */
final case class UpdateDV(r: Int) extends UpkeepOp { val write = true }
case object Compact extends UpkeepOp { val write = true }
final case class Lookup(lo: Long, hi: Long) extends UpkeepOp { val write = false }
final case class Aggregate(fromDays: Int, toDays: Int) extends UpkeepOp { val write = false }
case object TimeTravel extends UpkeepOp { val write = false }
/** One of the [[DeclaredQueries]]. */
final case class Query(name: String) extends UpkeepOp { val write = false }

/** The seeded op log. It runs in cycles of [[OpLog.CycleLength]] entries:
  * each op type of [[OpLog.Pattern]] once per table, Delta (even entries)
  * and Iceberg (odd entries) taking turns, then each declared query once.
  * The seed chooses each entry's keys, rows and predicates, so every
  * window sees the same mix of verbs.
  */
final class OpLog(seed: Long, baseRows: Long) {
  def format(j: Int): String =
    if (j % OpLog.CycleLength >= OpLog.TableOps) "" else if (j % 2 == 0) "delta" else "iceberg"

  private def row(j: Int, k: Int, key: Long, status: String): Order = {
    def r(f: Int, n: Long) = Rnd.below(seed, j * 4096L + k, 100 + f, n)
    Order(key, r(1, 15000) + 1, status, (r(2, 50000000L) + 100000) / 100.0,
      8035 + r(3, 2400).toInt, OrdersGen.Prios(r(4, 5).toInt))
  }

  def apply(j: Int): UpkeepOp = {
    def r(field: Int, n: Long) = Rnd.below(seed, j.toLong, field, n)
    val pos = j % OpLog.CycleLength
    if (pos >= OpLog.TableOps) Query(DeclaredQueries.Names(pos - OpLog.TableOps))
    else OpLog.Pattern(pos / 2) match {
      case "append" => Append((0 until 1000).map(k => row(j, k, 20000000L + j * 1000L + k, "A")))
      case "merge" =>
        // a batch of 900 recent keys (one contiguous range) and 100 new ones
        val start = r(1, baseRows)
        Merge((0 until 1000).map { k =>
          val key = if (k < 900) 1 + (start + k) % baseRows else 10000000L + j * 1000L + k
          row(j, k, key, "M")
        })
      case "delete_dv" => DeleteDV(r(2, 200).toInt)
      case "update_dv" => UpdateDV(r(3, 200).toInt)
      case "compact" => Compact
      case "lookup" => val lo = r(4, baseRows); Lookup(lo, lo + 500)
      case "aggregate" => val d = 8035 + r(5, 2000).toInt; Aggregate(d, d + 180)
      case _ => TimeTravel
    }
  }
}

object OpLog {
  val Pattern: Seq[String] = Seq("append", "lookup", "merge", "aggregate", "delete_dv",
    "time_travel", "update_dv", "compact")
  val TableOps: Int = 2 * Pattern.size
  val CycleLength: Int = TableOps + DeclaredQueries.Names.size
}

object OrdersGen {
  val Prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses = Array("O", "F", "P")
  val schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType)))

  def base(seed: Long, rows: Long): Seq[Order] = (0L until rows).map { i =>
    def r(f: Int, n: Long) = Rnd.below(seed, i, 200 + f, n)
    Order(i + 1, r(1, 15000) + 1, Statuses(r(2, 3).toInt), (r(3, 50000000L) + 100000) / 100.0,
      8035 + r(4, 2400).toInt, Prios(r(5, 5).toInt))
  }
}

/** The plain in-memory model one table is checked against. */
final class Model(base: Seq[Order]) {
  val rows: mutable.LongMap[Order] = mutable.LongMap.from(base.map(o => o.key -> o))

  def apply(op: UpkeepOp): Unit = op match {
    case Append(rs) => rs.foreach(o => rows(o.key) = o)
    case Merge(rs) => rs.foreach(o => rows(o.key) = o)
    case DeleteDV(r) => rows.filterInPlace { case (_, o) => o.cust % 200 != r }
    case UpdateDV(r) => rows.mapValuesInPlace { case (k, o) =>
      if (k % 200 == r) o.copy(status = "U", price = o.price + 1.0) else o }
    case _ => ()
  }

  def lookup(lo: Long, hi: Long): (Long, Double) = {
    val xs = rows.valuesIterator.filter(o => o.key >= lo && o.key <= hi).toSeq
    (xs.size.toLong, xs.map(_.price).sum)
  }

  def aggregate(from: Int, to: Int): Map[String, Long] =
    rows.valuesIterator.filter(o => o.dateDays >= from && o.dateDays <= to).toSeq
      .groupBy(_.prio).map { case (p, xs) => p -> xs.size.toLong }
}

/** `table-upkeep`: `orders` (sf0.1, 150 k rows) is created once as a Delta
  * and once as an Iceberg table on the object store, the last
  * [[TableUpkeep.SetUpAppends]] thousand rows in appends of their own so
  * that time travel 5 versions back finds history from the first cycle on;
  * then one client runs
  * whole cycles of the seeded [[OpLog]] against them: appends, keyed
  * merge/upsert, DV deletes and updates, compactions, key-range lookups,
  * filtered aggregates and time travel, and the [[DeclaredQueries]]. One op
  * is one log entry. Every read is checked against the model as of that op,
  * and after the run both final tables must equal their model.
  */
final class TableUpkeep(ctx: Ctx) extends Workload {
  import ctx.spark
  private val BaseRows = 150000L
  private val bucket = new Bucket(ctx.work.resolve("bucket"))
  private var inputs: (Seq[Order], OpLog) = _
  private var live: TablePair = _
  private val readFailures = mutable.ArrayBuffer.empty[String]
  private val queries = new DeclaredQueries(ctx)

  /** A Delta and an Iceberg table made from the same base rows, with the
    * model each is checked against.
    */
  private final class TablePair(name: String, base: Seq[Order], val log: OpLog) {
    val tables = Map("delta" -> bucket.path(s"$name/delta"), "iceberg" -> bucket.path(s"$name/iceberg"))
    val models = Map("delta" -> new Model(base), "iceberg" -> new Model(base))
    /** The model's row count at each Delta version and Iceberg snapshot id
      * a write left current, for checking time travel.
      */
    val history = Map("delta" -> mutable.LongMap.empty[Long], "iceberg" -> mutable.LongMap.empty[Long])

    /** Records the version or snapshot the last write left current. */
    def record(f: String, rows: Long): Unit = {
      val id = if (f == "delta") DeltaSink.latestVersion(tables(f)) else IcebergSink.snapshots(tables(f)).last._1
      history(f)(id) = rows
    }

    private val created = base.size - TableUpkeep.SetUpAppends * 1000
    private val df = spark.createDataFrame(
      spark.sparkContext.parallelize(base.take(created).map(_.toRow), ctx.nproc), OrdersGen.schema)
    require(DeltaSink.write(df, tables("delta"), store = bucket.store))
    IcebergSink.write(df, tables("iceberg"), IcebergSink.CreateExclusive, store = bucket.store)
    Layers.Formats.foreach(record(_, created.toLong))
    base.drop(created).grouped(1000).zipWithIndex.foreach { case (rs, k) =>
      DeltaSink.append(frame(rs), tables("delta"), store = bucket.store)
      IcebergSink.write(frame(rs), tables("iceberg"), IcebergSink.Append, store = bucket.store)
      Layers.Formats.foreach(record(_, created + (k + 1) * 1000L))
    }
  }

  override val cycle: Int = OpLog.CycleLength

  /** Input generation: the base rows, the op log and the query corpus. */
  override def prepare(): Unit = {
    inputs = (OrdersGen.base(ctx.seed, BaseRows), new OpLog(ctx.seed, BaseRows))
    queries.generate()
  }

  override def setUp(): Unit = { live = new TablePair("upkeep", inputs._1, inputs._2) }

  private def frame(rows: Seq[Order]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(_.toRow): _*), OrdersGen.schema)

  private def verbOf(op: UpkeepOp, format: String): String = op match {
    case _: Append => "append"
    case _: Merge => if (format == "delta") "merge" else "upsert"
    case _: DeleteDV => "delete_dv"
    case _: UpdateDV => "update_dv"
    case Compact => "compact"
    case _: Lookup => "lookup"
    case _: Aggregate => "aggregate"
    case TimeTravel => "time_travel"
    case Query(q) => q
  }

  override def runOp(i: Int): OpRec = {
    val pair = live
    import pair.{history, log, models, record, tables}
    val op = log(i)
    val f = log.format(i)
    lazy val t = tables(f)
    val store = bucket.store
    val verb = verbOf(op, f)
    val delta = f == "delta"
    def read(): DataFrame =
      if (delta) DeltaSink.read(spark, t, store = store) else IcebergSink.read(spark, t, store = store)
    val t0 = System.nanoTime()
    val result: Any = Trace.span(if (f.isEmpty) s"queries.$verb" else s"sinks.$f.$verb") {
      op match {
        case Query(q) => queries.run(q)
        case Append(rs) =>
          if (delta) DeltaSink.append(frame(rs), t, store = store)
          else IcebergSink.write(frame(rs), t, IcebergSink.Append, store = store)
        case Merge(rs) =>
          if (delta) DeltaSink.merge(spark, t, frame(rs), Seq("o_orderkey"), store = store)
          else IcebergSink.upsert(spark, t, frame(rs), Seq("o_orderkey"), store = store)
        case DeleteDV(r) =>
          val p = s"o_custkey % 200 = $r"
          if (delta) DeltaSink.deleteWhereDV(spark, t, p, store = store)
          else IcebergSink.deleteWhereDV(spark, t, p, store = store)
        case UpdateDV(r) =>
          val p = s"o_orderkey % 200 = $r"
          val set = Map("o_orderstatus" -> "'U'", "o_totalprice" -> "o_totalprice + 1.0")
          if (delta) DeltaSink.updateWhereDV(spark, t, p, set, store = store)
          else IcebergSink.updateWhereDV(spark, t, p, set, store = store)
        case Compact =>
          if (delta) DeltaSink.compact(spark, t, store = store)
          else IcebergSink.compact(spark, t, store = store)
        case Lookup(lo, hi) =>
          val df = if (delta) DeltaSink.readRange(spark, t, "o_orderkey", lo.toString, hi.toString)
            else IcebergSink.readRange(spark, t, "o_orderkey", lo.toDouble, hi.toDouble)
          val r = df.filter(col("o_orderkey").between(lo, hi))
            .agg(count(lit(1)), sum("o_totalprice")).head()
          (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
        case Aggregate(from, to) =>
          read().filter(col("o_orderdate").between(
              lit(LocalDate.ofEpochDay(from.toLong)), lit(LocalDate.ofEpochDay(to.toLong))))
            .groupBy("o_orderpriority").agg(count(lit(1)).as("n")).collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
        case TimeTravel =>
          // the newest version a write left current at least 5 versions back
          val (at, df) =
            if (delta) {
              val back = DeltaSink.latestVersion(t) - 5
              val v = history(f).keys.filter(_ <= back).max
              (v, DeltaSink.read(spark, t, Some(v), store))
            } else {
              val snaps = IcebergSink.snapshots(t).map(_._1)
              val id = snaps.take(snaps.size - 5).reverseIterator.find(history(f).contains).get
              (id, IcebergSink.read(spark, t, Some(id), store))
            }
          (at, df.agg(count(lit(1))).head().getLong(0))
      }
    }
    val t1 = System.nanoTime()
    lazy val model = models(f)
    val ok = op match {
      case _: Query => true
      case Lookup(lo, hi) =>
        val (n, s) = result.asInstanceOf[(Long, Double)]
        val (wn, ws) = model.lookup(lo, hi)
        n == wn && math.abs(s - ws) <= 1e-9 * math.max(1.0, math.abs(ws))
      case Aggregate(from, to) => result == model.aggregate(from, to)
      case TimeTravel =>
        val (at, n) = result.asInstanceOf[(Long, Long)]
        history(f).get(at).contains(n)
      case w => model(w); record(f, model.rows.size.toLong); true
    }
    if (!ok) readFailures += s"$f $verb (op $i) disagrees with the model: got $result"
    val kind = op match { case _: Query => "query"; case _ if op.write => "write"; case _ => "read" }
    OpRec(i, kind, verb, f, t0, t1, ok, 0L)
  }

  override def verify(ops: Seq[OpRec]): Unit = {
    queries.verify()
    ctx.check(s"${ops.count(_.kind == "read")} reads agree with the model") {
      readFailures.foreach(m => System.err.println(s"[loaderbench] $m"))
      readFailures.isEmpty
    }
    for ((f, t) <- live.tables.toSeq.sortBy(_._1)) ctx.check(s"final $f table equals its op-log replay") {
      val df = if (f == "delta") DeltaSink.read(spark, t, store = bucket.store)
        else IcebergSink.read(spark, t, store = bucket.store)
      val got = df.select(OrdersGen.schema.fieldNames.map(col).toIndexedSeq: _*).collect().map { r =>
        Order(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
          r.getDate(4).toLocalDate.toEpochDay.toInt, r.getString(5))
      }
      val want = live.models(f).rows
      val bad = got.count(o => !want.get(o.key).contains(o))
      if (bad > 0 || got.length != want.size)
        System.err.println(s"[loaderbench] $f: ${got.length} rows, want ${want.size}; $bad differ")
      bad == 0 && got.length == want.size
    }
  }

  override def layers(ops: Seq[OpRec], store: Map[String, Long]): Map[String, Double] = {
    val (models, tables) = (live.models, live.tables)
    val st = store.withDefaultValue(0L)
    val deltaLog = Fs.treeBytes(java.nio.file.Paths.get(tables("delta"), "_delta_log"))
    val icebergMeta = Fs.treeBytes(java.nio.file.Paths.get(tables("iceberg"), "metadata"))
    val liveFiles = tables.toSeq.map { case (f, t) =>
      (if (f == "delta") DeltaSink.read(spark, t, store = bucket.store)
       else IcebergSink.read(spark, t, store = bucket.store)).inputFiles.length
    }.sum
    // user bytes changed: rows the writes touched, at the base table's
    // published bytes per row
    val dataBytes = Fs.treeBytes(java.nio.file.Paths.get(tables("delta"))) - deltaLog
    val bytesPerRow = dataBytes.toDouble / math.max(1L, models("delta").rows.size)
    val touched = ops.filter(_.kind == "write").map(_.verb).map {
      case "append" | "merge" | "upsert" => 1000.0
      case "delete_dv" | "update_dv" => BaseRows / 200.0
      case _ => 0.0
    }.sum
    Map(
      "sinks.log_bytes_end" -> (deltaLog + icebergMeta).toDouble,
      "sinks.live_files_end" -> liveFiles.toDouble,
      "sinks.write_amp" -> (if (touched > 0)
        (st("publish_bytes") + st("commit_bytes")) / (touched * bytesPerRow) else 0.0))
  }

  override def storeCounters: Map[String, Long] = bucket.counters

  override def traceExtra: Map[String, Any] = Map("digests" -> queries.digests)

  override def close(): Unit = bucket.close()
}

object TableUpkeep {
  /** Thousand-row appends that finish building each base table. */
  val SetUpAppends = 5
}
