package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ibtp._

/** The benchmark process: one workload, one seed, one Spark session.
  *
  * {{{
  * perfbench.Main --workload build_daily --seed 1 --seconds 15 --trace 0 \
  *   --work DIR [--cores N] [--scale full|tiny]
  * perfbench.Main --gate-selftest --work DIR
  * }}}
  *
  * An untimed set-up and round warm the JVM first. Set-up then runs
  * `SetupRounds` times and reports its median. The timed region then runs
  * rounds until `--seconds` have passed and at least `MinRounds` ran. With
  * `--trace 1` the rounds alternate untraced and traced: per-layer metrics
  * come from the traced ones, and traced minus untraced is the tracing
  * overhead. The last stdout line is the result object.
  */
object Main {
  val SetupRounds = 3
  /** Every end-to-end metric is a median over rounds; three rounds let one
    * slowed by a burst of load on the host fall outside it.
    */
  val MinRounds = 3

  final case class Opts(workload: String = "", seed: Long = 1, seconds: Double = 10, trace: Boolean = false,
      work: File = new File("."), cores: Int = Runtime.getRuntime.availableProcessors(),
      sizes: Sizes = Sizes.full, gateSelftest: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil                               => o
    case "--workload" :: v :: t            => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t                => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t             => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t               => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t                => parse(t, o.copy(work = new File(v)))
    case "--cores" :: v :: t               => parse(t, o.copy(cores = v.toInt))
    case "--scale" :: "tiny" :: t          => parse(t, o.copy(sizes = Sizes.tiny))
    case "--scale" :: "full" :: t          => parse(t, o.copy(sizes = Sizes.full))
    case "--gate-selftest" :: t            => parse(t, o.copy(gateSelftest = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument '$other'")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    require(o.gateSelftest || Workload.Names.contains(o.workload),
      s"--workload must be one of ${Workload.Names.mkString(", ")}")
    Fs.delete(o.work)
    o.work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(o.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try if (o.gateSelftest) gateSelftest(spark, o) else { println(new Bench(spark, o).run()); 0 }
      finally {
        spark.stop()
        Fs.delete(o.work)
      }
    sys.exit(code)
  }

  /** Checks that the correctness gate passes a correct target and
    * rejects one with a single planted wrong row.
    */
  def gateSelftest(spark: SparkSession, o: Opts): Int = {
    val ops = new Ops(spark, o.cores, new Tracer(spark))
    val w = Workload("build_daily", ops, o.work, Sizes.tiny, o.seed)
    w.setup()
    w.round()
    val clean = w.gate()
    val t = w.table
    val day = Data.Epoch
    val wrong = t.model.inner.query(spark, PeriodBounds(day, day.plusDays(1)))
      .withColumn("n_events", when(col("event_type") === Data.EventTypes.head, col("n_events") + 1)
        .otherwise(col("n_events")))
    t.open().upsert(wrong, t.keys)
    val planted = w.gate()
    println(s"# gate on a correct target: ${clean.getOrElse("pass")}")
    println(s"# gate on a target with one planted wrong row: ${planted.getOrElse("pass")}")
    val ok = clean.isEmpty && planted.exists(_.contains("1 unexpected row(s), 1 missing row(s)"))
    println(Json(Seq("gate_selftest" -> ok)))
    if (ok) 0 else 1
  }
}

final class Bench(spark: SparkSession, o: Main.Opts) {
  private val tracer = new Tracer(spark)
  private val ops    = new Ops(spark, o.cores, tracer)
  private val w      = Workload(o.workload, ops, new File(o.work, "w"), o.sizes, o.seed)

  def run(): String = {
    // One set-up and one round, untimed, so that both are timed on a warm JVM.
    val warm0 = System.nanoTime()
    w.setup()
    w.warmup()
    w.setupBuildMs.clear()
    val warmS = (System.nanoTime() - warm0) / 1e9
    val setupS = (1 to Main.SetupRounds).map { _ =>
      val t0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }

    if (o.trace) tracer.attach()
    val minRounds = if (o.trace) 2 * Main.MinRounds else Main.MinRounds
    val t0 = System.nanoTime()
    var i = 0
    var more = true
    var space: Option[Space] = None
    val roundS = mutable.ArrayBuffer.empty[Double]
    while (more && (i < minRounds || (System.nanoTime() - t0) / 1e9 < o.seconds)) {
      tracer.active(o.trace && i % 2 == 1)
      val r0 = System.nanoTime()
      more = tracer.span("round", "bench.round")(w.round())
      roundS += (System.nanoTime() - r0) / 1e9
      tracer.active(false)
      if (i == w.spaceRound) space = Some(ops.space(w.table))
      i += 1
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    if (o.trace) { tracer.drain(); tracer.detach() }

    val g0 = System.nanoTime()
    val gate = w.gate()
    gate.foreach(msg => println(s"# correctness gate failed: $msg"))
    def secs(xs: Seq[Double]) = xs.map("%.1f".format(_)).mkString(", ")
    println(s"# ${o.workload}: warm-up ${secs(Seq(warmS))} s; set-up ${secs(setupS)} s; " +
      s"rounds ${secs(roundS.toSeq)} s (${"%.1f".format(timedS)} s); " +
      s"${ops.attempted} operations, ${ops.failed} failed; " +
      s"gate ${"%.1f".format((System.nanoTime() - g0) / 1e9)} s")
    (("period_ms", periods(traced = false).map(_.wallMs)) +: ops.untraced.all).foreach { case (metric, xs) =>
      println(s"# samples $metric (ms): ${xs.map(x => "%.0f".format(x)).mkString(" ")}")
    }
    val host = hostFacts
    println("# host " + Json(host))

    val untraced = endToEnd(ops.untraced, traced = false, setupS, space)
    val metrics =
      if (!o.trace) untraced
      else {
        val tracedE2e = endToEnd(ops.traced, traced = true, setupS, space)
        // set-up (and maintain's build) precede the rounds, so only the round metrics compare
        val overhead = untraced.zip(tracedE2e).collect {
          case ((name, (u, unit)), (_, (t, _))) if name != "setup_s" && !(name == "build_s" && o.workload == "maintain") =>
            name -> Seq("untraced" -> u, "traced" -> t, "overhead" -> (t - u), "unit" -> unit)
        }
        val layers = perLayer(space.get, tracedE2e)
        writeTrace(host, layers, overhead, tracedE2e.toMap.apply("period_ms.p50")._1)
        layers
      }
    Json(Seq(
      "correct" -> gate.isEmpty,
      "attempted" -> ops.attempted,
      "failed" -> ops.failed,
      "metrics" -> metrics.map { case (n, (v, unit)) => n -> Seq("value" -> v, "unit" -> unit) }))
  }

  private def periods(traced: Boolean): Seq[Period] =
    ops.runs.filter(r => r.sequential && r.traced == traced).flatMap(_.log.periods).toSeq

  private def endToEnd(s: Samples, traced: Boolean, setupS: Seq[Double], space: Option[Space])
      : Seq[(String, (Double, String))] = {
    val walls = periods(traced).map(_.wallMs)
    val buildS = if (o.workload == "maintain") w.setupBuildMs.toSeq else s("build_s")
    Seq(
      "setup_s"            -> (Stats.median(setupS), "s"),
      "build_s"            -> (Stats.median(buildS) / 1000, "s"),
      "period_ms.p50"      -> (Stats.quantile(walls, 0.5), "ms"),
      "catchup_ms.p50"     -> (Stats.median(s("catchup_ms")), "ms"),
      "backfill_ms.p50"    -> (Stats.median(s("backfill_ms")), "ms"),
      "upsert_ms.p50"      -> (Stats.median(s("upsert_ms")), "ms"),
      "read_full_ms.p50"   -> (Stats.median(s("read_full_ms")), "ms"),
      "read_range_ms.p50"  -> (Stats.median(s("read_range_ms")), "ms"),
      "space_amp"          -> (space.map(_.amp).getOrElse(Double.NaN), "ratio"))
  }

  /** Per-layer metrics from the traced rounds. Per-period figures cover
    * the periods of sequential runs, whose windows the model calls mark
    * out; Spark work is attributed to the period in which it started.
    */
  private def perLayer(space: Space, tracedE2e: Seq[(String, (Double, String))])
      : Seq[(String, (Double, String))] = {
    val runs   = ops.runs.filter(_.traced).toSeq
    val execs  = tracer.execs.values.toSeq
    val tasks  = tracer.tasks.toSeq
    val calls  = runs.flatMap(_.log.calls)
    def in(t: Double, a: Double, b: Double) = t >= a && t < b

    final case class P(wall: Double, plan: Double, write: Double, jobs: Int, stages: Int, tasks: Int,
        taskMs: Double, cpuMs: Double, shuffle: Long, input: Long, own: Long, gc: Double)
    val per = runs.filter(_.sequential).flatMap { r =>
      r.log.periods.map { p =>
        val ts = tasks.filter(t => in(t.launch, p.t0, p.t1))
        P(p.wallMs,
          r.log.calls.filter(c => in(c.t0, p.t0, p.t1)).map(c => c.t1 - c.t0).sum,
          execs.filter(e => e.write && !e.t1.isNaN && in(e.t0, p.t0, p.t1)).map(e => e.t1 - e.t0).sum,
          tracer.jobs.count(in(_, p.t0, p.t1)),
          tracer.stages.count(in(_, p.t0, p.t1)),
          ts.size, ts.map(_.runMs).sum, ts.map(_.cpuMs).sum, ts.map(_.shuffleWriteBytes).sum,
          ts.map(_.inputBytes).sum, w.sourceBytes(p.from, p.to), p.gcMs)
      }
    }
    val n = per.size.toDouble
    val spansBy = tracer.spans.toSeq.groupBy(_.name)
    def spanMs(name: String) = Stats.median(spansBy.getOrElse(name, Nil).map(s => s.t1 - s.t0))
    def window(name: String) = spansBy.getOrElse(name, Nil)
    val rangeFiles = execs.filter(_.label == "perfbench:read_range").map(_.files.toDouble)
    val upsertInput = window("TargetTable.upsert").map { s =>
      tasks.filter(t => in(t.launch, s.t0, s.t1)).map(_.inputBytes).sum.toDouble
    }
    val writeMs = per.map(_.write).sum
    val tracedPeriodP50 = tracedE2e.toMap.apply("period_ms.p50")._1
    val untracedPeriodP50 = Stats.quantile(periods(traced = false).map(_.wallMs), 0.5)
    Seq(
      "IbtpRunner.entry_ms"                -> (Stats.median(runs.flatMap(_.log.entryMs)), "ms"),
      "IbtpRunner.model_calls_per_period"  -> (calls.size.toDouble / runs.map(_.log.periodCount).sum, "count"),
      "IbtpModel.plan_ms"                  -> (Stats.median(per.map(_.plan)), "ms"),
      "spark.write_ms"                     -> (Stats.median(per.map(_.write)), "ms"),
      "spark.jobs_per_period"              -> (per.map(_.jobs).sum / n, "count"),
      "spark.stages_per_period"            -> (per.map(_.stages).sum / n, "count"),
      "spark.tasks_per_period"             -> (per.map(_.tasks).sum / n, "count"),
      "spark.task_busy_share"              -> (per.map(_.taskMs).sum / (writeMs * o.cores), "ratio"),
      "spark.task_cpu_ms"                  -> (per.map(_.cpuMs).sum / n, "ms"),
      "spark.shuffle_write_bytes"          -> (per.map(_.shuffle).sum / n, "bytes"),
      "jvm.gc_ms"                          -> (per.map(_.gc).sum / n, "ms"),
      "spark.scan_selectivity"             -> (per.map(_.input).sum.toDouble / per.map(_.own).sum, "ratio"),
      "TargetTable.commit_ms"              -> (Stats.median(per.map(p => p.wall - p.plan - p.write)), "ms"),
      "TargetTable.manifest_replay_ms"     -> (spanMs("TargetTable.maxPartitionDate"), "ms"),
      "TargetTable.read_plan_ms"           -> (spanMs("TargetTable.read"), "ms"),
      "TargetTable.read_range_files_ratio" -> (Stats.median(rangeFiles) / space.filesLive, "ratio"),
      "TargetTable.upsert_input_bytes"     -> (Stats.median(upsertInput), "bytes"),
      "TargetTable.files_live"             -> (space.filesLive.toDouble, "count"),
      "TargetTable.bytes_live"             -> (space.bytesLive.toDouble, "bytes"),
      "TargetTable.bytes_trash"            -> (space.bytesTrash.toDouble, "bytes"),
      "TargetTable.bytes_manifest"         -> (space.bytesMeta.toDouble, "bytes"),
      "trace.period_overhead_ms"           -> (tracedPeriodP50 - untracedPeriodP50, "ms"))
  }

  /** Spans of the traced rounds with each layer's self time: a span's
    * duration minus the part of it that spans of deeper layers cover.
    */
  private def writeTrace(host: Seq[(String, Any)], layers: Seq[(String, (Double, String))],
      overhead: Seq[(String, Any)], tracedPeriodP50: Double): Unit = {
    val depth = Map("bench.round" -> 0, "bench.op" -> 1, "IbtpRunner" -> 2, "TargetTable" -> 2,
      "IbtpModel" -> 3, "spark" -> 4)
    val all: Seq[Span] = tracer.spans.toSeq ++
      ops.runs.filter(_.traced).flatMap(_.log.calls).map(c => Span(-1, -1, "IbtpModel.query", "IbtpModel", c.t0, c.t1)) ++
      tracer.execs.values.filterNot(_.t1.isNaN).map(e =>
        Span(-1, -1, if (e.write) "spark.write" else "spark.sql", "spark", e.t0, e.t1))
    def covered(s: Span): Double = {
      val inner = all.filter(c => depth(c.layer) > depth(s.layer) && c.t0 >= s.t0 && c.t1 <= s.t1)
        .map(c => (c.t0, c.t1)).sortBy(_._1)
      inner.foldLeft((0.0, Double.NegativeInfinity)) { case ((sum, reach), (a, b)) =>
        if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
      }._1
    }
    val self = mutable.LinkedHashMap.empty[String, Double]
    all.foreach(s => self(s.layer) = self.getOrElse(s.layer, 0.0) + (s.t1 - s.t0 - covered(s)))
    val dir = new File(sys.env.getOrElse("PERFBENCH_TRACE_DIR", o.work.getPath))
    dir.mkdirs()
    val f = new File(dir, s"trace-${o.workload}-seed${o.seed}.json")
    val out = new PrintWriter(f, "UTF-8")
    try out.println(Json(Seq(
      "host" -> host,
      "self_ms_by_layer" -> self.toSeq,
      "per_layer" -> layers.map { case (n, (v, u)) => n -> Seq("value" -> v, "unit" -> u) },
      "tracing_overhead" -> overhead,
      "spans" -> all.sortBy(_.t0).map(s => Seq("name" -> s.name, "layer" -> s.layer, "id" -> s.id,
        "parent" -> s.parent, "start_ms" -> s.t0, "end_ms" -> s.t1)))))
    finally out.close()
    val m = layers.toMap
    val parts = Seq("IbtpModel.plan_ms", "spark.write_ms", "TargetTable.commit_ms").map(m(_)._1)
    println(f"# period accounting: plan ${parts(0)}%.1f + write ${parts(1)}%.1f + commit ${parts(2)}%.1f = " +
      f"${parts.sum}%.1f ms; traced period_ms.p50 ${tracedPeriodP50}%.1f ms")
    println(s"# trace written to ${f.getPath}")
    println("# self time by layer (ms) " + Json(self.toSeq))
    println("# tracing overhead " + Json(overhead))
  }

  private def hostFacts: Seq[(String, Any)] = Seq(
    "workload" -> o.workload,
    "seed" -> o.seed,
    "cores" -> o.cores,
    "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
    "jdk" -> (sys.props("java.vm.name") + " " + sys.props("java.version")),
    "spark" -> spark.version,
    "scala" -> scala.util.Properties.versionNumberString,
    "os" -> (sys.props("os.name") + " " + sys.props("os.arch")),
    "sizes" -> o.sizes.productElementNames.zip(o.sizes.productIterator).toSeq)
}

/** A minimal JSON writer for the result line and the trace file: maps
  * are written from sequences of pairs so keys keep their order.
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None                 => "null"
    case Some(x)                     => apply(x)
    case s: String                   => quote(s)
    case d: Double                   => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long)      => n.toString
    case b: Boolean                  => b.toString
    case s: Iterable[_] if s.forall(_.isInstanceOf[(_, _)]) && s.nonEmpty =>
      s.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]              => s.map(apply).mkString("[", ",", "]")
    case other                       => quote(other.toString)
  }
  private def quote(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c    => c.toString
    }.mkString("\"", "", "\"")
}
