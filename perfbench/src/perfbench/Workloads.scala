package perfbench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ibtp._
import graft.ibtp.IbtpRunner.RunParams

/** Input sizes. `full` is what the benchmark measures; `tiny` is for the
  * smoke test.
  */
final case class Sizes(
    dailyDays: Int, dailyRowsPerDay: Int,
    monthlyMonths: Int, monthlyRowsPerDay: Int,
    maintainDays: Int, maintainRowsPerDay: Int, maintainPendingDays: Int,
    users: Int)

object Sizes {
  val full = Sizes(6, 5000, 2, 12000, 4, 10000, 8, 20000)
  val tiny = Sizes(3, 200, 1, 500, 3, 200, 6, 100)
}

/** A target table under test, with the model that fills it. Each table
  * lives in a directory of its own, because the engine keeps lease and
  * staging entries beside the table path.
  */
final class Table(spark: SparkSession, val root: File, val model: RecordingModel,
    val cfg: IbtpConfig, val keys: Seq[String]) {
  val path: String = new File(root, "t").getPath
  def open(): TargetTable = new TargetTable(spark, path, cfg.timestampField)
  def reset(): Unit = Fs.delete(root)
}

/** Storage of a table: live parquet is the file set a `read()` plans;
  * other parquet (replaced files parked for pinned readers) is trash;
  * the rest (manifests, markers, sidecars) is metadata. Checksum files
  * count with the file they check.
  */
final case class Space(filesLive: Int, bytesLive: Long, bytesTrash: Long, bytesMeta: Long, bytesDisk: Long) {
  def amp: Double = bytesDisk.toDouble / bytesLive
}

/** An IbtpRunner.run the timed region made. */
final case class RunRec(log: RunLog, sequential: Boolean, traced: Boolean)

/** Latency samples by metric, in milliseconds. */
final class Samples {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(metric: String, ms: Double): Unit = m.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += ms
  def apply(metric: String): Seq[Double] = m.get(metric).map(_.toSeq).getOrElse(Nil)
  def all: Seq[(String, Seq[Double])] = m.toSeq.map { case (k, v) => k -> v.toSeq }
}

object Stats {
  /** Linear-interpolated quantile, as numpy's default computes it. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Ops {
  val ReadRepeats = 5
}

/** The benchmark's operations on one Spark session, and what they saw. */
final class Ops(val spark: SparkSession, val cores: Int, val tracer: Tracer) {
  val untraced = new Samples
  val traced   = new Samples
  val runs     = mutable.ArrayBuffer.empty[RunRec]
  var attempted = 0
  var failed    = 0

  private def samples = if (tracer.isActive) traced else untraced

  /** Runs one operation. A timed one counts as attempted; if it fails it
    * counts as failed, leaves no latency sample and its message is
    * printed. An untimed one (set-up) lets a failure end the run.
    */
  def op[T](metric: String, timed: Boolean)(body: => T): Option[T] =
    if (!timed) Some(body)
    else {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        val r = tracer.span(metric, "bench.op")(body)
        samples.add(metric, (System.nanoTime() - t0) / 1e6)
        Some(r)
      } catch {
        case NonFatal(e) =>
          failed += 1
          println(s"# failed $metric: ${e.getClass.getName}: ${e.getMessage}".replace('\n', ' '))
          None
      }
    }

  /** One `IbtpRunner.run` on a fresh `TargetTable` instance, as a
    * scheduled job would make it.
    */
  def run(t: Table, metric: String, mode: RunMode, stop: LocalDate, cc: Int, timed: Boolean): Unit = {
    var log: RunLog = null
    op(metric, timed) {
      tracer.span("IbtpRunner.run", "IbtpRunner") {
        log = new RunLog(Clock.ms)
        t.model.current = log
        try IbtpRunner.run(spark, t.model, t.open(),
          RunParams(t.cfg.copy(stopDate = Some(stop)), mode, maxConcurrentPeriods = cc))
        finally log.end()
      }
    }.foreach(_ => if (timed) runs += RunRec(log, cc == 1, tracer.isActive))
  }

  /** A full-history build into an empty table, ending before `stop`. */
  def build(t: Table, stop: LocalDate, cc: Int, timed: Boolean): Unit = {
    t.reset()
    run(t, "build_s", RunMode.Normal, stop, cc, timed)
  }

  /** The day-2 operations on a table whose data ends before `stop`:
    * catch up one day, backfill the trailing week, re-deliver the last
    * day, read. Returns the new end.
    */
  def maintain(t: Table, stop: LocalDate, timed: Boolean): LocalDate = {
    val next = stop.plusDays(1)
    val week = Seq(next.minusDays(7), t.cfg.startDate.get).maxBy(_.toEpochDay)
    if (tracer.isActive)
      tracer.span("TargetTable.maxPartitionDate", "TargetTable")(t.open().maxPartitionDate)
    run(t, "catchup_ms", RunMode.Normal, next, 1, timed)
    run(t, "backfill_ms", RunMode.Backfill(week, next), next, cores, timed)
    op("upsert_ms", timed) {
      tracer.span("TargetTable.upsert", "TargetTable") {
        t.open().upsert(t.model.inner.query(spark, PeriodBounds(stop, next)), t.keys)
      }
    }
    read(t, week, next, timed)
    next
  }

  /** Reads the table in full and by range, `ReadRepeats` times each
    * when timed: reads are short, so one sample would be mostly noise.
    */
  def read(t: Table, from: LocalDate, to: LocalDate, timed: Boolean): Unit =
    (1 to (if (timed) Ops.ReadRepeats else 1)).foreach { _ =>
      op("read_full_ms", timed)(noop(t.open().read(), "read_full"))
      op("read_range_ms", timed) {
        val ts = col(t.cfg.timestampField)
        val df = tracer.span("TargetTable.read", "TargetTable") {
          t.open().read().where(ts >= lit(java.sql.Date.valueOf(from)) && ts < lit(java.sql.Date.valueOf(to)))
        }
        noop(df, "read_range")
      }
    }

  /** Executes a read in full without collecting it; the label names the
    * SQL execution for the tracer.
    */
  private def noop(df: DataFrame, label: String): Unit = {
    spark.sparkContext.setJobDescription("perfbench:" + label)
    try df.write.format("noop").mode("overwrite").save()
    finally spark.sparkContext.setJobDescription(null)
  }

  def space(t: Table): Space = {
    val live = t.open().read().inputFiles.map(u => new File(new Path(u).toUri.getPath).getCanonicalPath).toSet
    val all  = Fs.files(t.root)
    def subject(f: File): String = {
      val n = f.getName
      if (n.startsWith(".") && n.endsWith(".crc")) new File(f.getParentFile, n.drop(1).dropRight(4)).getCanonicalPath
      else f.getCanonicalPath
    }
    val liveParquet = all.filter(f => live(f.getCanonicalPath))
    val (trash, meta) = all.filterNot(f => live(subject(f))).partition(f => subject(f).endsWith(".parquet"))
    Space(live.size, liveParquet.map(_.length).sum, trash.map(_.length).sum,
      meta.map(_.length).sum, all.map(_.length).sum)
  }

  /** Loop ≡ one-shot: the target must hold exactly the rows the model
    * yields when run once over the whole range, as a multiset.
    */
  def gate(t: Table, stop: LocalDate): Option[String] =
    try {
      val expected = t.model.inner.query(spark, PeriodBounds(t.cfg.startDate.get, stop)).cache()
      val actual   = t.open().read().select(expected.columns.map(col).toIndexedSeq: _*).cache()
      val extra    = actual.exceptAll(expected).count()
      val missing  = expected.exceptAll(actual).count()
      expected.unpersist()
      actual.unpersist()
      if (extra == 0 && missing == 0) None
      else Some(s"target ${t.path} differs from the one-shot model over " +
        s"[${t.cfg.startDate.get}, $stop): $extra unexpected row(s), $missing missing row(s)")
    } catch {
      case NonFatal(e) => Some(s"target ${t.path} could not be compared: ${e.getMessage}")
    }
}

/** One benchmark workload. `setup` is repeated and must leave the state
  * `warmup` and then `round` start from; `round` returns false when it
  * cannot run again.
  */
trait Workload {
  def ops: Ops
  def table: Table
  /** The source event log's directory. */
  def events: String
  def setup(): Unit
  def warmup(): Unit
  def round(): Boolean
  /** The round after which storage is measured: a fixed point of the
    * workload, so that space does not depend on how many rounds fit.
    */
  def spaceRound: Int
  def end: LocalDate
  /** Milliseconds of each full-history build made in set-up. */
  val setupBuildMs = mutable.ArrayBuffer.empty[Double]
  def gate(): Option[String] = ops.gate(table, end)

  /** Bytes of source data for the days [from, to). */
  def sourceBytes(from: LocalDate, to: LocalDate): Long =
    Iterator.iterate(from)(_.plusDays(1)).takeWhile(_.isBefore(to)).map(d => Data.dayFile(events, d).length).sum
}

object Workload {
  val Names = Seq("build_daily", "build_monthly_sql", "maintain")

  def apply(name: String, ops: Ops, work: File, sizes: Sizes, seed: Long): Workload = name match {
    case "build_daily"       => new Build(ops, work, sizes, seed, monthly = false)
    case "build_monthly_sql" => new Build(ops, work, sizes, seed, monthly = true)
    case "maintain"          => new Maintain(ops, work, sizes, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }
}

/** A fresh full-history build per round, then the day-2 operations on
  * it. Daily: the README's per-day aggregate in `Day` periods, a few
  * thousand rows a day, so per-period overhead dominates. Monthly: a SQL
  * join, aggregate and window over `Month` periods of ~370k rows, so
  * scan, shuffle and compute dominate.
  */
final class Build(val ops: Ops, work: File, sizes: Sizes, seed: Long, monthly: Boolean) extends Workload {
  private val spark  = ops.spark
  private val data   = new File(work, "data")
  val events         = new File(data, "events").getPath
  private val users  = new File(data, "users").getPath
  private val stop   =
    if (monthly) Data.Epoch.plusMonths(sizes.monthlyMonths.toLong)
    else Data.Epoch.plusDays(sizes.dailyDays.toLong)
  val end: LocalDate = stop.plusDays(1)

  val table: Table =
    if (monthly)
      new Table(spark, new File(work, "table"), new RecordingModel(IbtpModel.SqlModel(Data.MonthlySql)),
        IbtpConfig("day", Some(Data.Epoch), period = PeriodUnit.Month), Data.MonthlyKeys)
    else
      new Table(spark, new File(work, "table"), new RecordingModel(Data.dailyModel(events)),
        IbtpConfig("day", Some(Data.Epoch), period = PeriodUnit.Day), Data.DailyKeys)

  val spaceRound = 0

  def setup(): Unit = {
    Fs.delete(data)
    val days = (end.toEpochDay - Data.Epoch.toEpochDay).toInt
    val rows = if (monthly) sizes.monthlyRowsPerDay else sizes.dailyRowsPerDay
    Data.writeEvents(spark, events, seed, 0, days, rows, sizes.users)
    Data.writeUsers(spark, users, seed, sizes.users)
    if (monthly) Data.registerMonthlyViews(spark, events, users)
  }

  /** One round, untimed. */
  def warmup(): Unit = {
    ops.build(table, stop, 1, timed = false)
    ops.maintain(table, stop, timed = false)
  }

  def round(): Boolean = {
    ops.build(table, stop, 1, timed = true)
    ops.maintain(table, stop, timed = true)
    true
  }
}

/** Scheduled maintenance of a row-level fact table built during set-up:
  * each round the source receives the next day, which a fresh-instance
  * catch-up loads; then the trailing week is backfilled concurrently,
  * the last day re-delivered by upsert, and the table read in full and
  * by range.
  */
final class Maintain(val ops: Ops, work: File, sizes: Sizes, seed: Long) extends Workload {
  private val spark   = ops.spark
  private val data    = new File(work, "data")
  val events          = new File(data, "events").getPath
  private val pending = new File(data, "pending").getPath
  private val users   = new File(data, "users").getPath
  private val history = Data.Epoch.plusDays(sizes.maintainDays.toLong)
  private val last    = history.plusDays(sizes.maintainPendingDays.toLong)
  private var cur     = history

  def end: LocalDate = cur

  val table = new Table(spark, new File(work, "table"), new RecordingModel(Data.factModel(events, users)),
    IbtpConfig("ts", Some(Data.Epoch), period = PeriodUnit.Day), Data.FactKeys)

  val spaceRound = 1

  def setup(): Unit = {
    Fs.delete(data)
    Data.writeEvents(spark, events, seed, 0, sizes.maintainDays, sizes.maintainRowsPerDay, sizes.users)
    Data.writeEvents(spark, pending, seed, sizes.maintainDays, sizes.maintainPendingDays,
      sizes.maintainRowsPerDay, sizes.users)
    Data.writeUsers(spark, users, seed, sizes.users)
    cur = history
    table.reset()
    val t0 = System.nanoTime()
    ops.run(table, "build_s", RunMode.Normal, cur, ops.cores, timed = false)
    setupBuildMs += (System.nanoTime() - t0) / 1e6
  }

  def warmup(): Unit = cycle(timed = false)

  private def cycle(timed: Boolean): Boolean =
    if (!cur.isBefore(last)) false
    else {
      Data.publishDay(pending, events, cur)
      cur = ops.maintain(table, cur, timed)
      true
    }

  def round(): Boolean = cycle(timed = true) && cur.isBefore(last)
}
