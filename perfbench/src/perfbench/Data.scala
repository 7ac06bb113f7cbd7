package perfbench

import java.io.File
import java.time.LocalDate

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ibtp.IbtpModel

/** Seeded inputs and the three benchmark models.
  *
  * The event log is written the way an append-only production log lands:
  * one time-ordered parquet file per day (`events-YYYY-MM-DD.parquet`),
  * so a period's `ts` predicate skips the other days' files by their
  * min/max statistics. Every value is a pure function of (seed, row id),
  * so a seed always yields the same bytes of input; sizes do not depend
  * on the seed, so runs with different seeds do the same amount of work.
  */
object Data {
  val Epoch: LocalDate = LocalDate.of(2024, 1, 1)
  private val MicrosPerDay = 86400L * 1000 * 1000

  val EventTypes = Seq("view", "click", "search", "add_to_cart", "purchase", "share", "login", "logout")
  val Segments   = Seq("free", "trial", "pro", "team", "enterprise")

  def dayFile(dir: String, day: LocalDate): File = new File(dir, s"events-$day.parquet")

  /** Writes days `[Epoch + firstDay, Epoch + firstDay + nDays)` of the
    * event log into `dir`, `rowsPerDay` rows each, one file per day.
    */
  def writeEvents(spark: SparkSession, dir: String, seed: Long,
      firstDay: Int, nDays: Int, rowsPerDay: Int, users: Int): Unit = {
    val base  = firstDay.toLong * rowsPerDay
    val step  = MicrosPerDay / rowsPerDay
    val epoch = Epoch.toEpochDay * MicrosPerDay
    val id    = col("id")
    val types = array(EventTypes.map(lit): _*)
    val stage = dir + ".stage"
    // one seeded hash per row; its disjoint bit ranges feed each column
    val h = shiftrightunsigned(xxhash64(id, lit(seed)), 1)
    // range slice i holds exactly the ids of day firstDay + i
    spark.range(base, base + nDays.toLong * rowsPerDay, 1, nDays)
      .select(
        id.as("event_id"),
        timestamp_micros(lit(epoch) + (id / rowsPerDay).cast("long") * MicrosPerDay +
          pmod(id, lit(rowsPerDay.toLong)) * step).as("ts"),
        pmod(h, lit(users.toLong)).as("user_id"),
        element_at(types, (pmod(shiftright(h, 24), lit(EventTypes.size.toLong)) + 1).cast("int"))
          .as("event_type"),
        pmod(shiftright(h, 32), lit(50000L)).as("amount_cents"))
      .write.mode("overwrite").parquet(stage)
    new File(dir).mkdirs()
    val parts = new File(stage).listFiles().filter(_.getName.startsWith("part-"))
      .filter(_.getName.endsWith(".parquet"))
    require(parts.length == nDays, s"expected $nDays day files in $stage, found ${parts.length}")
    parts.foreach { f =>
      val slice = f.getName.stripPrefix("part-").takeWhile(_ != '-').toInt
      val day   = Epoch.plusDays(firstDay.toLong + slice)
      require(f.renameTo(dayFile(dir, day)), s"could not move $f into $dir")
    }
    Fs.delete(new File(stage))
  }

  /** The user dimension: one row per user with a seeded segment. */
  def writeUsers(spark: SparkSession, dir: String, seed: Long, users: Int): Unit =
    spark.range(0, users.toLong, 1, 1)
      .select(
        col("id").as("user_id"),
        element_at(array(Segments.map(lit): _*),
          (pmod(xxhash64(col("id"), lit(seed + 3)), lit(Segments.size.toLong)) + 1).cast("int"))
          .as("segment"))
      .write.mode("overwrite").parquet(dir)

  /** Moves a pre-generated day file into the live source directory: the
    * source "receives" that day, as an append-only log does.
    */
  def publishDay(pendingDir: String, liveDir: String, day: LocalDate): Unit =
    require(dayFile(pendingDir, day).renameTo(dayFile(liveDir, day)),
      s"could not publish $day from $pendingDir to $liveDir")

  /** The README's per-day `event_type` aggregate, in the DataFrame form.
    * The source is listed on every call, as a model over a growing log
    * would be.
    */
  def dailyModel(eventsDir: String): IbtpModel = IbtpModel.DfModel { (spark, from, to) =>
    spark.read.parquet(eventsDir)
      .where(col("ts") >= from && col("ts") < to)
      .groupBy(date_trunc("DAY", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("amount_cents").as("amount_cents"),
        countDistinct("user_id").as("n_users"))
  }
  val DailyKeys = Seq("day", "event_type")

  /** The monthly model in the fidelity `SqlModel` form: the event log
    * joined to the user dimension, aggregated per day, segment and event
    * type, plus two window functions. Every window partitions by day, so
    * the result does not depend on how the range is cut into periods.
    */
  val MonthlySql: String =
    """WITH e AS (
      |  SELECT ts, user_id, event_type, amount_cents FROM bench_events
      |  WHERE ts >= __PERIOD_FILTER_FROM__ AND ts < __PERIOD_FILTER_TO__
      |), j AS (
      |  SELECT date_trunc('DAY', e.ts) AS day, u.segment, e.event_type, e.user_id, e.amount_cents
      |  FROM e JOIN bench_users u ON e.user_id = u.user_id
      |), agg AS (
      |  SELECT day, segment, event_type, COUNT(*) AS n_events,
      |         COUNT(DISTINCT user_id) AS n_users, SUM(amount_cents) AS amount_cents
      |  FROM j GROUP BY day, segment, event_type
      |)
      |SELECT day, segment, event_type, n_events, n_users, amount_cents,
      |       RANK() OVER (PARTITION BY day ORDER BY amount_cents DESC, segment, event_type) AS day_rank,
      |       SUM(amount_cents) OVER (PARTITION BY day, segment) AS segment_day_cents
      |FROM agg""".stripMargin
  val MonthlyKeys = Seq("day", "segment", "event_type")

  def registerMonthlyViews(spark: SparkSession, eventsDir: String, usersDir: String): Unit = {
    spark.read.parquet(eventsDir).createOrReplaceTempView("bench_events")
    spark.read.parquet(usersDir).createOrReplaceTempView("bench_users")
  }

  /** A row-level fact model: every event of the period with its user's
    * segment, so the target holds real bytes for reads to scan.
    */
  def factModel(eventsDir: String, usersDir: String): IbtpModel = IbtpModel.DfModel { (spark, from, to) =>
    spark.read.parquet(eventsDir)
      .where(col("ts") >= from && col("ts") < to)
      .join(broadcast(spark.read.parquet(usersDir)), "user_id")
      .select("event_id", "ts", "user_id", "event_type", "amount_cents", "segment")
  }
  val FactKeys = Seq("event_id")
}

object Fs {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
    else if (f.exists()) Seq(f)
    else Nil
}
