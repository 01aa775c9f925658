package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** What one unit of work (a catalog pass or a round trip) measured.
  * `facts` are workload figures known without tracing (rows, bytes,
  * files, phase times read from the benchmark's own clock). */
final case class UnitResult(name: String, traced: Boolean, wallS: Double,
    cpuS: Double, jvmGcS: Double, jobs: Long, facts: Map[String, Double])

/** A workload: a set-up step, a repeatable unit of work, and the record
  * of what the units did. Every call into the program goes through the
  * tracer so a traced run records one span per call. */
trait Workload {
  /** Name of the top-level span around one unit. */
  def unitName: String
  /** One-time set-up; returns the seconds of each repetition of a set-up
    * step that is repeated to take its median (empty if none is). */
  def setup(tracer: Tracer): Seq[Double]
  /** One unit of work; `u` names it in spans and operation names. The
    * facts include build_s/build_jobs (plan-building calls) and
    * action_s/action_jobs (the calls that move the data). */
  def unit(u: String, tracer: Tracer): Map[String, Double]
  /** Operations attempted and failures found inside the JVM, by name. */
  def operations: Seq[(String, Option[String])]
  /** Layer record over the traced units' spans. */
  def layers(spans: Seq[Span], units: Seq[UnitResult]): Map[String, Double]
  /** Extra entries for the run record (paths the outside checks read). */
  def record: Map[String, Any]
}

object Main {
  private val cpus = 4
  /** Seconds of one reference probe on the 4-core host the benchmark was
    * defined on, warm. */
  private val ReferenceNominalS = 0.25
  private val roundTripCounters = Seq("dump.jobs", "dump.mb", "dump.source_reads_per_row",
    "load.jobs", "load.read_amplification", "extract.partitions_min")

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .withExtensions(new org.apache.spark.sql.graftnative.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def arg(argv: Array[String], k: String): String = {
    val i = argv.indexOf(s"--$k")
    require(i >= 0 && i + 1 < argv.length, s"missing --$k")
    argv(i + 1)
  }

  private def processCpuS: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def jvmGcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1e3).getOrElse(0.0)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val workload = arg(argv, "workload")
    val kind = arg(argv, "kind")
    val seconds = arg(argv, "seconds").toDouble
    val traced = arg(argv, "trace") == "1"
    val data = arg(argv, "data")
    val work = arg(argv, "work")
    val order = arg(argv, "order").split(",").toSeq.filter(_.nonEmpty)
    val out = arg(argv, "out")

    val calibStart = graft.Bench.calibrate()
    val spark = session(work)
    val tracer = new Tracer(spark)
    val w: Workload = kind match {
      case "catalog" => new Catalog(spark, data, work, order)
      case "roundtrip_jdbc" => new RoundTrip.Jdbc(spark, data, work, order)
      case "roundtrip_files" => new RoundTrip.Files(spark, data, work, order)
      case other => throw new IllegalArgumentException(s"unknown workload kind $other")
    }
    // the probe's own JIT warm-up, so the probes that count are steady
    (1 to 3).foreach(_ => Reference.probe(spark))
    val probes = Seq.newBuilder[Double]
    val setupReps = w.setup(tracer)
    // JVM start to ready: the session and every one-time cost users pay
    // before the first timed unit, with a repeated set-up step at its median
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3 -
      setupReps.sum + (if (setupReps.isEmpty) 0.0 else median(setupReps))

    val units = Seq.newBuilder[UnitResult]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    var tracedN = 0
    var done = false
    def probe(): Unit = (1 to 2).foreach(_ => probes += Reference.probe(spark))
    probe()
    while (!done) {
      // a traced run alternates untraced and traced units, so units keep
      // speeding up (JIT) on both sides alike and the two give the
      // tracing overhead; an untraced run never enables tracing
      if (traced && i % 2 == 1) tracer.enable() else tracer.disable()
      val (c0, g0, j0, w0) = (processCpuS, jvmGcS,
        PerfbenchBridge.jobsSubmitted(spark.sparkContext), System.nanoTime())
      val u = s"u$i"
      val facts = tracer.span(w.unitName, u, parent = 0)(w.unit(u, tracer))
      val wall = (System.nanoTime() - w0) / 1e9
      units += UnitResult(u, tracer.enabled, wall, processCpuS - c0, jvmGcS - g0,
        PerfbenchBridge.jobsSubmitted(spark.sparkContext) - j0, facts)
      if (tracer.enabled) tracedN += 1
      i += 1
      done = elapsed >= seconds && (!traced || tracedN > 0)
      probe()
    }
    val all = units.result()
    val calibEnd = graft.Bench.calibrate()

    val plain = all.filterNot(_.traced)
    // times in reference seconds: measured seconds scaled by how much
    // slower than nominal the reference probe ran in this run, so a slow
    // spell of a shared host cancels out
    val ref = median(probes.result())
    val scale = ReferenceNominalS / ref
    val raw = Map(
      "setup_s" -> setupS,
      "unit_s" -> median(plain.map(_.wallS)),
      "cpu_s" -> median(plain.map(_.cpuS)))
    val endToEnd = raw.map { case (k, v) => k -> v * scale }
    val perLayer: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val tu = all.filter(_.traced)
        val spans = tracer.spans
        val byUnit = spans.groupBy(_.unit)
        // listener counters per unit: summed over each unit's top-level span
        val counters = Counters.names.map { k =>
          k -> median(tu.map(u => byUnit.getOrElse(u.name, Nil)
            .filter(_.parent == 0).map(_.counters.getOrElse(k, 0.0)).sum))
        }.toMap
        val app = Seq("build_s", "build_jobs", "action_s", "action_jobs")
          .map(k => s"app.$k" -> median(tu.map(_.facts(k)))).toMap
        // counters of a layer the workload does not run read 0
        roundTripCounters.map(_ -> 0.0).toMap ++ counters ++ app ++ w.layers(spans, tu) ++ Map(
          "jvm.cpu_s" -> median(tu.map(_.cpuS)),
          "jvm.gc_s" -> median(tu.map(_.jvmGcS)),
          "jvm.heap_peak_mb" -> heapPeakMb,
          "jvm.peak_rss_mb" -> peakRssMb,
          "trace.overhead_ratio" -> median(tu.map(_.wallS)) / median(plain.map(_.wallS)))
      }

    val record = Map[String, Any](
      "workload" -> workload,
      "cores" -> cpus,
      "order" -> order,
      "calibrate_s" -> Seq(calibStart, calibEnd),
      "reference_s" -> probes.result(),
      "setup_reps_s" -> setupReps,
      "end_to_end" -> endToEnd,
      "end_to_end_raw" -> raw,
      "peak_rss_mb" -> peakRssMb,
      "per_layer" -> perLayer,
      "units" -> all.map(u => Map(
        "name" -> u.name, "traced" -> u.traced, "wall_s" -> u.wallS,
        "cpu_s" -> u.cpuS, "jvm_gc_s" -> u.jvmGcS, "jobs" -> u.jobs,
        "facts" -> u.facts)),
      "operations" -> w.operations.map { case (n, e) =>
        Map("name" -> n, "error" -> e.orNull) },
      "spans" -> tracer.spans.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "unit" -> s.unit,
        "start_s" -> s.startS, "end_s" -> s.endS, "counters" -> s.counters))
    ) ++ w.record
    Files.writeString(Paths.get(out), Json(record))
    spark.stop()
  }
}

/** Minimal JSON writer for the run record (maps, sequences, numbers,
  * strings, booleans, null). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
