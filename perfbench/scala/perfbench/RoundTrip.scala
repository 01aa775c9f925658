package perfbench

import java.sql.DriverManager
import java.util.concurrent.atomic.DoubleAdder

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import org.apache.spark.scheduler.PerfbenchBridge

import graft.{Dump, Load, Tables}
import graft.extract.{Discovery, JdbcExtract, Snapshot, TableFilter}

/** Dump → load → verify round trips. A unit extracts or reads the source
  * tables, dumps them with `Dump.run` to zstd SQL-INSERT files with
  * checksums, then restores the directory alone with `Load.sourcesFromDir`
  * and `Load.run` (checksum `warn`) into parquet, one directory per
  * table, which the outside check compares with the generated source. */
object RoundTrip {

  private val DataChunk = """[^-]+\.\d+\.sql(\..+)?""".r

  /** (files, MB, MB of the data chunks the load reads) of a dump dir. */
  private def dirStats(dir: String): (Double, Double, Double) = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.isFile)
    val data = files.filter(f => DataChunk.matches(f.getName))
    (files.length.toDouble, files.map(_.length).sum / 1e6, data.map(_.length).sum / 1e6)
  }

  abstract class Base(spark: SparkSession, work: String) extends Workload {
    val unitName = "roundtrip"
    protected val failures = mutable.LinkedHashMap.empty[String, String]
    protected val attempted = mutable.ArrayBuffer.empty[String]
    private val restored = mutable.ArrayBuffer.empty[Map[String, Any]]

    /** Source frames in dump order, their primary keys, and the
      * extract-side facts of this unit. */
    protected def sources(u: String, tracer: Tracer)
        : (Seq[(String, DataFrame)], Map[String, Seq[String]], Map[String, Double])

    private def jobs: Long = PerfbenchBridge.jobsSubmitted(spark.sparkContext)

    def unit(u: String, tracer: Tracer): Map[String, Double] = {
      val dumpDir = s"$work/roundtrip/$u/dump"
      val target = s"$work/roundtrip/$u/restored"
      val (j0, t0) = (jobs, System.nanoTime())
      val (tables, pks, extractFacts) = sources(u, tracer)
      val names = tables.map(_._1)
      names.foreach(t => attempted += s"$u/$t")
      val (j1, t1) = (jobs, System.nanoTime())
      val manifest = try tracer.span("Dump.run", u) {
        Dump.run(spark, tables.map { case (n, df) => (n, df, true) },
          Dump.Config(outDir = dumpDir, db = "bench", compress = true,
            compressCodec = "zstd", checksum = true, primaryKeys = pks))
      } catch { case e: Throwable =>
        names.foreach(t => failures(s"$u/$t") = s"dump failed: ${e.getMessage}".take(500))
        return extractFacts
      }
      val (j2, t2) = (jobs, System.nanoTime())
      val (dumpFiles, dumpMb, dataMb) = dirStats(dumpDir)
      val writeS = new DoubleAdder
      val (srcs, results, t3, j3) = try {
        val srcs = tracer.span("Load.sourcesFromDir", u)(Load.sourcesFromDir(dumpDir))
        val (j3, t3) = (jobs, System.nanoTime())
        val results = tracer.span("Load.run", u) {
          val parent = tracer.currentId
          Load.run(spark, dumpDir, srcs, Load.ChecksumWarn) { (stem, df) =>
            val w0 = System.nanoTime()
            tracer.span(s"writeTarget:$stem", u, parent) {
              df.write.mode("overwrite").parquet(s"$target/$stem")
            }
            writeS.add((System.nanoTime() - w0) / 1e9)
          }
        }
        (srcs, results, t3, j3)
      } catch { case e: Throwable =>
        names.foreach(t => failures(s"$u/$t") = s"load failed: ${e.getMessage}".take(500))
        return extractFacts
      }
      val (j4, t4) = (jobs, System.nanoTime())
      // the program's own verdict: a table it restored with a checksum
      // mismatch, or one the manifest lists but the load did not restore
      val byTable = results.map(r => r.table.stripPrefix("bench.") -> r).toMap
      manifest.tables.foreach { m =>
        byTable.get(m.table) match {
          case None => failures(s"$u/${m.table}") = "not restored"
          case Some(r) if !r.checksumOk.contains(true) =>
            failures(s"$u/${m.table}") = s"program checksum verdict ${r.checksumOk}"
          case _ =>
        }
      }
      restored += Map("unit" -> u, "dir" -> target,
        "tables" -> srcs.map(s => s.table.stripPrefix("bench.") -> s.table).toMap)
      def s(a: Long, b: Long) = (b - a) / 1e9
      extractFacts ++ Map(
        "rows" -> manifest.tables.map(_.rows).sum.toDouble,
        "dump_s" -> s(t1, t2),
        "load_s" -> s(t2, t4),
        "load_write_s" -> writeS.sum(),
        "dump_files" -> dumpFiles,
        "dump_mb" -> dumpMb,
        "dump_data_mb" -> dataMb,
        // plan-building calls (discovery, extract planning, dump-directory
        // discovery) against the calls that move the data
        "build_s" -> (s(t0, t1) + s(t2, t3)),
        "build_jobs" -> ((j1 - j0) + (j3 - j2)).toDouble,
        "action_s" -> (s(t1, t2) + s(t3, t4)),
        "action_jobs" -> ((j2 - j1) + (j4 - j3)).toDouble)
    }

    // the first round trip runs cold (class loading, JIT) at about 1.5x
    // a warm one; it is set-up, and it is checked like every other
    protected def warm(tracer: Tracer): Unit = unit("warm", tracer)

    def operations: Seq[(String, Option[String])] =
      attempted.toSeq.map(k => k -> failures.get(k))

    def layers(spans: Seq[Span], units: Seq[UnitResult]): Map[String, Double] = {
      def perUnit(f: (Seq[Span], UnitResult) => Double): Double =
        Main.median(units.map(u => f(spans.filter(_.unit == u.name), u)))
      def named(ss: Seq[Span], prefix: String) = ss.filter(_.name.startsWith(prefix))
      def secs(ss: Seq[Span], prefix: String) = named(ss, prefix).map(_.seconds).sum
      def count(ss: Seq[Span], prefix: String, k: String) =
        named(ss, prefix).map(_.counters.getOrElse(k, 0.0)).sum
      Map(
        "dump.s" -> perUnit((ss, _) => secs(ss, "Dump.run")),
        "dump.jobs" -> perUnit((ss, _) => count(ss, "Dump.run", "spark.jobs")),
        "dump.task_s" -> perUnit((ss, _) => count(ss, "Dump.run", "spark.task_s")),
        "dump.shuffle_write_mb" -> perUnit((ss, _) =>
          count(ss, "Dump.run", "spark.shuffle_write_mb")),
        "dump.files" -> perUnit((_, u) => u.facts.getOrElse("dump_files", 0.0)),
        "dump.mb" -> perUnit((_, u) => u.facts.getOrElse("dump_mb", 0.0)),
        "dump.source_reads_per_row" -> perUnit((ss, u) =>
          count(ss, "Dump.run", "spark.input_records") / u.facts("rows")),
        "load.discover_s" -> perUnit((ss, _) => secs(ss, "Load.sourcesFromDir")),
        "load.run_s" -> perUnit((ss, _) => secs(ss, "Load.run")),
        "load.write_s" -> perUnit((ss, _) => secs(ss, "writeTarget:")),
        "load.jobs" -> perUnit((ss, _) => count(ss, "Load.run", "spark.jobs")),
        "load.task_s" -> perUnit((ss, _) => count(ss, "Load.run", "spark.task_s")),
        "load.table_parallelism" -> perUnit((ss, _) =>
          secs(ss, "writeTarget:") / secs(ss, "Load.run")),
        "load.read_amplification" -> perUnit((ss, u) =>
          count(ss, "Load.run", "spark.input_mb") / u.facts("dump_data_mb")),
        "dump_rows_per_s" -> perUnit((_, u) => u.facts("rows") / u.facts("dump_s")),
        "load_rows_per_s" -> perUnit((_, u) => u.facts("rows") / u.facts("load_s")),
        "dump_bytes_per_row" -> perUnit((_, u) => u.facts("dump_mb") * 1e6 / u.facts("rows"))
      )
    }

    def record: Map[String, Any] = Map("restored" -> restored.toSeq)
  }

  /** The CLI's own path: every generated table, read from parquet. */
  final class Files(spark: SparkSession, data: String, work: String, order: Seq[String])
      extends Base(spark, work) {
    def setup(tracer: Tracer): Seq[Double] = {
      warm(tracer)
      Nil
    }

    protected def sources(u: String, tracer: Tracer) =
      (order.map(t => t -> Tables.t(spark, data, t)), Tables.primaryKeys, Map.empty[String, Double])
  }

  /** Extract from a live embedded-Derby server: discovery, chunk planning
    * and a 4-connection pinned pool, then the same dump and load. */
  final class Jdbc(spark: SparkSession, data: String, work: String, order: Seq[String])
      extends Base(spark, work) {
    private val schema = "PERFBENCH"
    private val keyed = Map("customer" -> "c_custkey", "part" -> "p_partkey",
      "orders" -> "o_orderkey")
    private val setupReps = 3
    private def url(k: Int) = s"jdbc:derby:memory:perfbench$k"
    private val snapshot = Snapshot.Plan(ddlLock = Nil, ddlUnlock = Nil, controlLock = Nil,
      workerInit = Nil, controlUnlock = Nil, verify = Nil, abortOnDrift = false)

    private def sqlType(t: DataType): String = t match {
      case LongType => "BIGINT"
      case IntegerType => "INT"
      case DoubleType => "DOUBLE"
      case StringType => "VARCHAR(200)"
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case other => throw new IllegalArgumentException(s"no Derby type for $other")
    }

    /** Create one Derby database and bulk-load it from the CSV copies of
      * the generated tables. */
    private def seed(k: Int): Unit = {
      val conn = DriverManager.getConnection(url(k) + ";create=true")
      try {
        val st = conn.createStatement()
        st.execute(s"CREATE SCHEMA $schema")
        order.foreach { t =>
          val cols = Tables.t(spark, data, t).schema.fields.map(f =>
            s"${f.name.toUpperCase} ${sqlType(f.dataType)}" +
              (if (keyed.get(t).contains(f.name)) " NOT NULL PRIMARY KEY" else ""))
          st.execute(s"CREATE TABLE $schema.${t.toUpperCase} (${cols.mkString(", ")})")
          val load = conn.prepareCall(
            "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(?, ?, ?, ',', '\"', 'UTF-8', 0)")
          load.setString(1, schema)
          load.setString(2, t.toUpperCase)
          load.setString(3, s"$data/csv/$t.csv")
          load.execute()
          load.close()
        }
        st.close()
      } finally conn.close()
    }

    private def drop(k: Int): Unit =
      try DriverManager.getConnection(url(k) + ";drop=true")
      catch { case _: java.sql.SQLException => () } // a dropped database reports by exception

    /** Seeds `setupReps` fresh databases, keeps the last one as the
      * server and reports each seeding's seconds. */
    def setup(tracer: Tracer): Seq[Double] = {
      val times = (0 until setupReps).map { k =>
        val t0 = System.nanoTime()
        seed(k)
        (System.nanoTime() - t0) / 1e9
      }
      (0 until setupReps - 1).foreach(drop)
      warm(tracer)
      times
    }

    protected def sources(u: String, tracer: Tracer) = {
      val server = url(setupReps - 1)
      val conn = DriverManager.getConnection(server)
      try {
        val t0 = System.nanoTime()
        val metas = tracer.span("Discovery.allTables", u)(
          Discovery.allTables(conn, TableFilter.Spec(regex = Some(s"^$schema\\."))))
        val t1 = System.nanoTime()
        val byName = metas.map(m => m.table.toLowerCase -> m).toMap
        val extracted = order.map { t =>
          val m = byName.getOrElse(t, throw new IllegalStateException(s"$t not discovered"))
          val (df, _) = tracer.span(s"JdbcExtract.extractTable:$t", u)(
            JdbcExtract.extractTable(spark, conn, server, m, snapshot, "APP", "",
              pc = JdbcExtract.PlanConfig(quote = "\""), pinnedWorkers = Some(4)))
          (t, df, m.primaryKey)
        }
        val t2 = System.nanoTime()
        val partitions =
          if (tracer.enabled) extracted.map(_._2.rdd.getNumPartitions.toDouble).min else 0.0
        (extracted.map(e => e._1 -> e._2),
          extracted.collect { case (t, _, pk) if pk.nonEmpty => t -> pk }.toMap,
          Map("discover_s" -> (t1 - t0) / 1e9, "extract_s" -> (t2 - t1) / 1e9,
            "partitions_min" -> partitions))
      } finally conn.close()
    }

    override def layers(spans: Seq[Span], units: Seq[UnitResult]): Map[String, Double] =
      super.layers(spans, units) ++ Map(
      "extract.discover_s" -> Main.median(units.map(_.facts("discover_s"))),
      "extract.plan_s" -> Main.median(units.map(_.facts("extract_s"))),
      "extract.partitions_min" -> Main.median(units.map(_.facts("partitions_min"))))
  }
}
