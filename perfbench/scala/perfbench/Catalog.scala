package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One pass over a frozen list of catalog queries, each built through
  * its `SparkEntry.queries` function and materialized through `noop`.
  * Set-up is one untimed pass that writes every result for the DuckDB
  * oracle check. It fills the per-JVM memoized stores and indexes, so
  * the timed passes measure their steady state and the builds are
  * charged to `setup_s`; every timed pass must launch the same jobs per
  * query. */
final class Catalog(spark: SparkSession, data: String, work: String,
    order: Seq[String]) extends Workload {
  require(order.nonEmpty, "catalog workload needs a query list")
  private val fns = order.map(n => n -> graft.SparkEntry.queries.getOrElse(n,
    throw new IllegalArgumentException(s"no catalog query named $n")))
  private val errors = mutable.LinkedHashMap.empty[String, String]
  // per query, one (build_s, action_s, build_jobs, action_jobs) per timed pass
  private val timed = mutable.LinkedHashMap.empty[String, Vector[(Double, Double, Long, Long)]]
  private val resultsDir = s"$work/results"
  private val coldS = mutable.LinkedHashMap.empty[String, Double]

  val unitName = "pass"

  private def jobs: Long = PerfbenchBridge.jobsSubmitted(spark.sparkContext)

  // free what a query materialized (checkpointing operators) so the
  // pass cannot accumulate pinned memory; not charged to the query
  private def sweep(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  private def fail(name: String, e: Throwable): Unit =
    errors.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))

  def setup(tracer: Tracer): Seq[Double] = {
    fns.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"$resultsDir/$name.parquet")
      catch { case e: Throwable => fail(name, e) }
      coldS(name) = (System.nanoTime() - t0) / 1e9
      sweep()
    }
    Nil
  }

  def unit(u: String, tracer: Tracer): Map[String, Double] = {
    var buildS, actionS = 0.0
    var buildJobs, actionJobs = 0L
    fns.foreach { case (name, fn) =>
      try {
        val (j0, t0) = (jobs, System.nanoTime())
        val df: DataFrame = tracer.span(s"build:$name", u)(fn(spark, data))
        val (j1, t1) = (jobs, System.nanoTime())
        tracer.span(s"action:$name", u)(df.write.format("noop").mode("overwrite").save())
        val (j2, t2) = (jobs, System.nanoTime())
        val q = ((t1 - t0) / 1e9, (t2 - t1) / 1e9, j1 - j0, j2 - j1)
        timed(name) = timed.getOrElse(name, Vector.empty) :+ q
        buildS += q._1; actionS += q._2; buildJobs += q._3; actionJobs += q._4
      } catch { case e: Throwable => fail(name, e) }
      sweep()
    }
    Map("build_s" -> buildS, "action_s" -> actionS,
      "build_jobs" -> buildJobs.toDouble, "action_jobs" -> actionJobs.toDouble)
  }

  // a query whose job count differs between timed passes is not in its
  // steady state, so its pass times would mix two different workloads
  private def unsteady: Seq[String] = timed.collect {
    case (n, ps) if ps.map(p => p._3 + p._4).distinct.size > 1 => n
  }.toSeq

  def operations: Seq[(String, Option[String])] = order.map { n =>
    n -> errors.get(n).orElse(
      if (unsteady.contains(n)) Some(s"job count differs between timed passes: " +
        timed(n).map(p => p._3 + p._4).mkString(","))
      else None)
  }

  def layers(spans: Seq[Span], units: Seq[UnitResult]): Map[String, Double] = Map.empty

  def record: Map[String, Any] = Map(
    "results_dir" -> resultsDir,
    "cold_s" -> coldS.toMap,
    "oracles" -> order.map(n => n -> graft.SparkEntry.oracleSql.get(n)).toMap,
    "queries" -> timed.map { case (n, ps) => n -> Map(
      "build_s" -> ps.map(_._1), "action_s" -> ps.map(_._2),
      "build_jobs" -> ps.map(_._3), "action_jobs" -> ps.map(_._4)) }.toMap)
}
