package perfbench

import java.lang.management.ManagementFactory
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui._

import graft.ibtp.{IbtpModel, PeriodBounds}

/** Wall-clock milliseconds with sub-millisecond digits, on the same
  * epoch base as Spark's listener event times.
  */
object Clock {
  private val base0 = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def ms: Double = base0 + System.nanoTime() / 1e6

  /** Total JVM garbage-collection time so far. */
  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
}

/** One call into the model: the period it was asked for, when, and the
  * JVM's total GC time when it started.
  */
final case class ModelCall(from: LocalDate, to: LocalDate, t0: Double, t1: Double, gc: Double)

/** The model calls of one `IbtpRunner.run`. */
final class RunLog(val t0: Double) {
  private val buf = mutable.ArrayBuffer.empty[ModelCall]
  var t1: Double = Double.NaN
  var gc1: Double = Double.NaN
  def end(): Unit = { t1 = Clock.ms; gc1 = Clock.gcMs }
  def add(c: ModelCall): Unit = synchronized { buf += c }
  def calls: Seq[ModelCall] = synchronized(buf.toSeq).sortBy(_.t0)

  /** Periods of a sequential run: a period starts at the first model
    * call for its bounds (the runner may call the model more than once
    * per period) and ends where the next period starts, or where the run
    * returns.
    */
  def periods: Seq[Period] = {
    val starts = calls.foldLeft(List.empty[ModelCall]) {
      case (h :: t, c) if h.from == c.from && h.to == c.to => h :: t
      case (acc, c)                                         => c :: acc
    }.reverse
    starts.zip(starts.drop(1).map(c => (c.t0, c.gc)) :+ ((t1, gc1))).map {
      case (c, (end, gcEnd)) => Period(c.from, c.to, c.t0, end, gcEnd - c.gc)
    }
  }

  /** Distinct periods the run asked the model for, in any order. */
  def periodCount: Int = calls.map(c => (c.from, c.to)).distinct.size

  /** Time from the `run()` call to the first model call. */
  def entryMs: Option[Double] = calls.headOption.map(_.t0 - t0)
}

final case class Period(from: LocalDate, to: LocalDate, t0: Double, t1: Double, gcMs: Double) {
  def wallMs: Double = t1 - t0
}

/** Wraps a model so the benchmark sees each call: its bounds and its
  * start and end. That costs two clock reads per call, so it stays on in
  * untraced runs, where the call starts delimit the periods.
  */
final class RecordingModel(val inner: IbtpModel) extends IbtpModel {
  @volatile var current: RunLog = new RunLog(Clock.ms)
  def query(spark: SparkSession, bounds: PeriodBounds): DataFrame = {
    val log = current
    val gc  = Clock.gcMs
    val t0  = Clock.ms
    val df  = inner.query(spark, bounds)
    log.add(ModelCall(bounds.from, bounds.to, t0, Clock.ms, gc))
    df
  }
}

/** A span recorded by the benchmark around a call into one layer. */
final case class Span(id: Int, parent: Int, name: String, layer: String, t0: Double, t1: Double)

/** Everything the traced rounds see: the benchmark's own spans and the
  * Spark listener callbacks (jobs, stages, tasks, SQL executions and the
  * files each executed scan read). Listener callbacks arrive on Spark's
  * listener thread, so all state is guarded by this object's lock.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  final case class Task(launch: Double, finish: Double, runMs: Double, cpuMs: Double,
      shuffleWriteBytes: Long, inputBytes: Long)
  /** A SQL execution; `label` is the job description the benchmark set
    * around its own reads, `files` the files its scans read.
    */
  final case class Exec(id: Long, t0: Double, var t1: Double, write: Boolean, label: String) {
    /** Accumulator ids of the scans' "number of files read" metrics, in
      * the initial plan and every adaptive re-plan.
      */
    val fileMetrics = mutable.Set.empty[Long]
    val driverAccums = mutable.Map.empty[Long, Long]
    def files: Long = fileMetrics.toSeq.flatMap(driverAccums.get).sum
  }

  val spans  = mutable.ArrayBuffer.empty[Span]
  val jobs   = mutable.ArrayBuffer.empty[Double]
  val stages = mutable.ArrayBuffer.empty[Double]
  val tasks  = mutable.ArrayBuffer.empty[Task]
  val execs  = mutable.LinkedHashMap.empty[Long, Exec]
  private var stack = List(0)
  private var nextId = 1
  @volatile private var on = false

  def attach(): Unit = spark.sparkContext.addSparkListener(this)
  def detach(): Unit = spark.sparkContext.removeSparkListener(this)

  /** Records only while a traced round runs. */
  def active(b: Boolean): Unit = on = b
  def isActive: Boolean = on

  /** Runs `body` inside a span of `layer`, nested under the enclosing one. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val (id, parent) = synchronized {
        val id = nextId; nextId += 1
        val p = stack.head; stack = id :: stack
        (id, p)
      }
      val t0 = Clock.ms
      try body
      finally synchronized {
        spans += Span(id, parent, name, layer, t0, Clock.ms)
        stack = stack.tail
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (on) synchronized { jobs += e.time.toDouble }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (on) synchronized {
      stages += e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()).toDouble
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (on && e.taskMetrics != null) synchronized {
      val m = e.taskMetrics
      tasks += Task(e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble,
        m.executorRunTime.toDouble, m.executorCpuTime / 1e6,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead)
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (on) synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val ex = Exec(s.executionId, s.time.toDouble, Double.NaN,
          s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand"),
          Option(s.description).getOrElse(""))
        ex.fileMetrics ++= fileMetricIds(s.sparkPlanInfo)
        execs(s.executionId) = ex
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        execs.get(u.executionId).foreach(_.fileMetrics ++= fileMetricIds(u.sparkPlanInfo))
      case a: SparkListenerDriverAccumUpdates =>
        execs.get(a.executionId).foreach(ex => a.accumUpdates.foreach { case (id, v) => ex.driverAccums(id) = v })
      case x: SparkListenerSQLExecutionEnd =>
        execs.get(x.executionId).foreach(_.t1 = x.time.toDouble)
      case _ => ()
    }
  }

  private def fileMetricIds(p: SparkPlanInfo): Seq[Long] =
    p.metrics.filter(m => p.nodeName.contains("Scan") && m.name == "number of files read")
      .map(_.accumulatorId) ++ p.children.flatMap(fileMetricIds)

  /** Spark has no public flush for its listener thread; events trail the
    * calls that caused them by milliseconds, so a pause bounds the lag.
    */
  def drain(): Unit = Thread.sleep(500)
}
