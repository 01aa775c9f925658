package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work counted from outside the program: one listener for jobs,
  * stages and task metrics, one for the Catalyst phase times of every
  * executed query. Registered only for traced runs. */
final class Counters extends SparkListener with QueryExecutionListener {
  private val c = new ConcurrentHashMap[String, DoubleAdder]()
  private val stageSubmitMs = new ConcurrentHashMap[(Int, Int), java.lang.Long]()

  private def add(k: String, v: Double): Unit =
    c.computeIfAbsent(k, _ => new DoubleAdder).add(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmitMs.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add("spark.stages", 1)
    if (e.stageInfo.numTasks == 1) add("spark.single_task_stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("spark.tasks", 1)
    Option(stageSubmitMs.get((e.stageId, e.stageAttemptId))).foreach(s =>
      add("spark.task_wait_s", math.max(0L, e.taskInfo.launchTime - s) / 1e3))
    val m = e.taskMetrics
    if (m != null) {
      add("spark.task_s", m.executorRunTime / 1e3)
      add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add("spark.spill_mb", m.diskBytesSpilled / 1e6)
      add("spark.input_records", m.inputMetrics.recordsRead.toDouble)
      add("spark.input_mb", m.inputMetrics.bytesRead / 1e6)
    }
  }

  private def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, summary) =>
      add(s"catalyst.${phase}_s", summary.durationMs / 1e3)
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  def snapshot(): Map[String, Double] =
    c.asScala.map { case (k, v) => k -> v.sum() }.toMap
}

object Counters {
  val names: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.single_task_stages", "spark.tasks",
    "spark.task_s", "spark.task_cpu_s", "spark.task_wait_s", "spark.gc_s",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.input_records", "spark.input_mb",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s")
}

/** One timed call into the program. `unit` names the unit of work the
  * span belongs to (a catalog pass or a round trip); `counters` are the
  * listener totals observed between its start and end. */
final case class Span(id: Int, name: String, parent: Int, unit: String,
    startS: Double, endS: Double, counters: Map[String, Double]) {
  def seconds: Double = endS - startS
}

/** Spans around the benchmark's calls into the program, kept in memory
  * and written out when the run ends. Disabled, `span` only runs the
  * body: untraced runs register no listener and drain nothing. */
final class Tracer(spark: SparkSession) {
  private val origin = System.nanoTime()
  private val ids = new AtomicInteger(0)
  private val current = new ThreadLocal[Integer] { override def initialValue(): Integer = 0 }
  private val recorded = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  @volatile private var counters: Option[Counters] = None

  def enabled: Boolean = counters.isDefined

  def enable(): Unit = if (counters.isEmpty) {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    counters = Some(c)
  }

  def disable(): Unit = counters.foreach { c =>
    PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(c)
    spark.listenerManager.unregister(c)
    counters = None
  }

  private def now: Double = (System.nanoTime() - origin) / 1e9

  private def observe(): Map[String, Double] = counters match {
    case Some(c) =>
      PerfbenchBridge.drainListeners(spark.sparkContext)
      c.snapshot()
    case None => Map.empty
  }

  def currentId: Int = current.get()

  def span[T](name: String, unit: String, parent: Int = currentId)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val before = observe()
      val start = now
      val prev = current.get()
      current.set(id)
      try body
      finally {
        current.set(prev)
        val end = now
        val after = observe()
        val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
        recorded.add(Span(id, name, parent, unit, start, end, delta))
      }
    }

  def spans: Seq[Span] = recorded.asScala.toSeq.sortBy(_.id)
}
