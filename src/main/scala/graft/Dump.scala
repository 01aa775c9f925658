package graft

import graft.core.{ChunkSpec, DumpManifest, TableConfig, TableManifest}
import graft.functions.{Checksum, Masquerade}
import graft.operators.ChunkPlanner
import graft.sources.{CsvDump, LoadDataWriter, RowFormat, SqlInsertWriter}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The dump pipeline (SURVEY §3.1 re-shaped for Spark): per table —
  * project (P1/P2) → filter (P3) → chunk-plan (C1-C5) → mask (F1-F10) →
  * serialize (S5/S6/parquet) → checksum (A4) → manifest.
  *
  * The reference's worker threads, demand queues, and work stealing
  * collapse into Spark's task scheduler: the chunk plan becomes the
  * partitioning of one distributed write action per table; phases
  * (non-transactional under lock, then transactional — T4) become
  * sequential groups of actions.
  */
object Dump {

  sealed trait Format
  case object SqlFormat extends Format
  case object CsvFormat extends Format
  /** Reference-exact LOAD_DATA / CSV text dumps (`--format LOAD_DATA` /
    * `CSV`): `db.table.NNNNN.dat` data files shaped by
    * write_load_data_column_into_string plus a per-chunk companion
    * `.sql` carrying the LOAD DATA statement (write_load_data_statement,
    * mydumper_write.c:616-625). `csvVariant` flips the delimiter
    * defaults between the two reference formats. [[CsvFormat]] remains
    * the Spark-native csv writer (splittable columnar-pipeline output);
    * this is the byte-contract port. */
  final case class LoadDataFormat(csvVariant: Boolean = false) extends Format
  case object ParquetFormat extends Format
  /** ORC — the other mainstream columnar lake format (engine extension,
    * like jsonl): same self-describing, partitionable directory layout
    * as parquet, for pipelines whose warehouse standardized on ORC. */
  case object OrcFormat extends Format
  /** JSON-lines — the training-data interchange format (one JSON object
    * per row; not in the reference, which predates it). */
  case object JsonlFormat extends Format
  /** ClickHouse target (S7): SQL-INSERT data chunks (the reference's
    * FORMAT MySQLDump payload, mydumper_write.c:252-265) plus a
    * per-table loader script of INSERT..FROM INFILE statements and a
    * ClickHouse-dialect CREATE TABLE. */
  case object ClickHouseFormat extends Format

  final case class Config(
      outDir: String,
      format: Format = SqlFormat,
      db: String = "graft",
      targetChunks: Int = 32,           // ≈ 4× parallelism; AQE coalesces
      // --rows / -r: rows per chunk — when set, the chunk count derives
      // from the row estimate (estimate / rowsPerChunk, clamped) and
      // overrides the static targetChunks, the reference's sizing model
      // (mydumper_chunks.h:22 minimum, mydumper_table.c:414-440 clamps)
      rowsPerChunk: Option[Long] = None,
      statementSize: Int = 1000000,
      compress: Boolean = false,
      // --compress GZIP|ZSTD (mydumper_arguments.c compress_method):
      // which codec `compress` selects; the loader reads both
      compressCodec: String = "gzip",
      // --insert-ignore / --replace (mutually exclusive,
      // mydumper_write.c:366-376): the SQL-dump INSERT verb
      insertIgnore: Boolean = false,
      replace: Boolean = false,
      // --hex-blob; see SqlInsertWriter.Options.hexBlob for why our
      // default differs from the reference's FALSE
      hexBlob: Boolean = true,
      orderByPrimary: Boolean = false,  // --order-by-primary analog
      checksum: Boolean = true,         // --checksum-all analog
      // per-file SQL header block (SET NAMES/FK/TZ, the reference's
      // initialize_sql_statement); false gives headerless files like
      // --compact (mydumper_common.c:406-433)
      sqlFileHeaders: Boolean = true,
      noData: Boolean = false,          // --no-data / -d: schema-only dump
      noSchemas: Boolean = false,       // --no-schemas: data-only dump
      perTable: Map[String, TableConfig] = Map.empty,
      // --exec-per-thread: pipe SQL-dump file bytes through an external
      // filter process per file (sources/ExecFilter); takes precedence
      // over `compress` on the SQL path and names its own extension
      execFilter: Option[sources.ExecFilter] = None,
      masks: Masquerade.Registry = Masquerade.Registry(Map.empty),
      // table → discovered primary key (Discovery/TableMeta.primaryKey).
      // Drives the emitted DDL's PRIMARY KEY clause and --order-by-primary;
      // absent means the table HAS no known key and the schema file must
      // not invent one (the chunking column is a separate concern)
      primaryKeys: Map[String, Seq[String]] = Map.empty,
      // per-run surrogate-stem memo (each Config() gets a fresh one;
      // copies share it, so every table in one run sees one counter)
      stems: StemRegistry = new StemRegistry,
      // the --fields-terminated-by knob family, raw CLI spellings;
      // resolved per output format by RowFormat.resolve
      rowFormatKnobs: RowFormat.Knobs = RowFormat.Knobs(),
      // --include-header: first row of column names in LOAD_DATA/CSV
      // data files + IGNORE 1 LINES in the companion statement
      includeHeader: Boolean = false,
      // --chunk-filesize / -F (MB at the CLI; bytes here): rotate data
      // files past this size — the reference's per-MB probe,
      // mydumper_write.c:993. 0 = no rotation.
      fileSizeBytes: Long = 0L,
      // --complete-insert: every INSERT carries the full column list
      // (build_insert_statement's fields path, mydumper_write.c:466-470);
      // a per-table columns_on_insert override still wins. Defaults ON
      // here (the reference defaults off but force-enables it per table
      // when generated columns exist, mydumper_table.c:478 — a file
      // engine can't probe that, so self-describing is the safe default;
      // same documented-divergence rationale as hexBlob)
      completeInsert: Boolean = true,
      // --build-empty-files / -e: a zero-row table still emits one
      // (header-only) data file instead of none
      // (mydumper_file_handler.c:194,324 keeps the opened file)
      buildEmptyFiles: Boolean = false,
      // --set-names: charset in SQL file headers (reference default
      // binary, mydumper_arguments.c "set-names")
      setNamesCharset: String = "binary",
      // --skip-tz-utc: omit the TIME_ZONE line from file headers
      skipTzUtc: Boolean = false,
      // --partition-by (lake formats only; beyond the reference): hive-
      // style directory partitioning of the parquet/jsonl table output
      // on these columns — the layout a 100 TB lake dump wants, because
      // downstream scans prune whole directories on partition-column
      // predicates instead of reading row-group stats
      partitionBy: Seq[String] = Nil,
      // ANSI_QUOTES identifier mode — the detect_quote_character analog
      // (mydumper_start_dump.c:403-427; reference specific_6): the
      // session sql_mode (defaults-file `[mydumper_session_variables]`,
      // or a live server probe) decides whether identifiers quote with
      // `"` (ANSI) or backtick, which in turn flips the SQL string
      // enclosure (RowFormat.resolve's ansiQuotes) and the manifest's
      // symbolic quote-character
      ansiQuotes: Boolean = false)

  /** Identifier quote char for `cfg` — one symbol, used by the DDL
    * emitter, the database schema-create text, and the manifest. */
  def quoteOf(cfg: Config): String = if (cfg.ansiQuotes) "\"" else "`"

  /** File-stem resolution, the reference's determine_filename /
    * get_ref_table (mydumper_common.c:66-90): a table names its own
    * files iff the name is filename-safe (`^[\w\- ]+$` — letters,
    * digits, underscore, dash, space; in particular no dot, which would
    * corrupt the loader's `db.table.NNNNN` parse) and not itself
    * surrogate-shaped; anything else gets a memoized `mydumper_<n>`
    * stem, stable for the life of the run. The real name travels in the
    * schema file's DDL and the manifest's `filename` key. */
  final class StemRegistry {
    private val memo = scala.collection.mutable.LinkedHashMap.empty[String, String]
    private var n = 0
    private val Safe = "^[A-Za-z0-9_\\- ]+$".r
    def stem(table: String): String = synchronized {
      memo.getOrElseUpdate(table,
        if (Safe.matches(table) && !table.startsWith("mydumper_")) table
        else { val s = s"mydumper_$n"; n += 1; s })
    }
  }

  final case class TableResult(table: String, rows: Long, checksum: Long,
      chunks: Int, stem: String = "", schemaJson: Option[String] = None)

  /** Dump one table DataFrame end-to-end; returns its manifest entry. */
  def dumpTable(df0: DataFrame, table: String, cfg: Config): TableResult = {
    val conf = TableConfig.resolve(cfg.perTable, cfg.db, table)
    // per-table object scope narrows the global flags (object_to_export,
    // mydumper_working_thread.c:1038-1065: each artifact gated by BOTH)
    val noData = cfg.noData || conf.objectsToExport.exists(!_.data)
    val noSchemas = cfg.noSchemas || conf.objectsToExport.exists(!_.schema)
    // all FILE names below use the stems; DDL text and loader-script
    // statements keep the real db/table names (see StemRegistry). A
    // filename-unsafe DATABASE name (dotted, e.g. `db.dot` — the
    // reference's specific_32 shape) surrogates exactly like a table
    // name would: the loader's `db.table.NNNNN` parse stays intact and
    // the real name travels in the DDL + the db schema-create file.
    val stem = cfg.stems.stem(table)
    val dbStem = cfg.stems.stem(cfg.db)

    // P2 computed projections, then P3 row filter, then P5 limit
    var df = conf.columnsOnSelect.foldLeft(df0) { case (d, (c, e)) =>
      d.withColumn(c, expr(e))
    }
    conf.where.foreach(w => df = df.filter(expr(w)))
    conf.limit.foreach(n => df = df.limit(n.toInt))

    // masquerade before serialization (reference applies between fetch
    // and write, mydumper_write.c:709-771): per-table config chains
    // (defaults-file `` `col` = function `` keys) first, then the
    // CLI-registry rules
    df = conf.masks.foldLeft(df) { case (d, (c, chain)) =>
      if (d.columns.contains(c))
        d.withColumn(c, Masquerade.chain(chain.map(Masquerade.parse))(col(c)))
      else d
    }
    df = cfg.masks(df, cfg.db, table)

    // write parallelism: the dump never re-scans its source per chunk
    // (JDBC chunk predicates belong to extract.JdbcExtract, before the
    // frame gets here) — a frame is already split-parallel, so chunks
    // are the scan's own splits raised to `targetChunks`, or — with
    // orderByPrimary — one range shuffle on the PK: chunk-equivalent
    // files with ordered rows (the reference's ORDER BY pk,
    // mydumper_write.c:1055). The discovered PK (cfg.primaryKeys) owns
    // the DDL clause + order-by-primary; without one the first column
    // is the range-split driver.
    val pk = cfg.primaryKeys.getOrElse(table, Nil)
    val orderCol = pk.headOption.orElse(df.schema.fields.headOption.map(_.name))
    // rows-per-chunk sizing (--rows): chunk count = estimate / rows,
    // clamped to [1, 4096]; the estimate is a sampling probe, not a
    // full scan. Schema-only dumps skip the probe with everything else.
    // per-table `rows` override beats the global --rows (per-attribute
    // coalesce, mydumper_table.c:415-417); the START step sizes the
    // static plan — Spark has no mid-dump re-step, ChunkPlanner's
    // retarget/converge carries the adaptive [min,max] clamps on the
    // JDBC-extract side
    val effectiveRows = conf.rows.map(_.start).orElse(cfg.rowsPerChunk)
    val sizedChunks = effectiveRows match {
      case Some(r) if r > 0 && !noData =>
        val est = math.max(ChunkPlanner.rowEstimate(df, sampleFraction = 0.05), 1L)
        math.max(1, math.min(4096, math.ceil(est.toDouble / r).toInt))
      case _ => cfg.targetChunks
    }
    // --max-threads-per-table analog: the reference caps how many worker
    // threads dump one table (mydumper_arguments.c); here the same knob
    // caps the table's write parallelism (chunk count)
    val targetChunks = conf.numThreads.filter(_ > 0)
      .map(n => math.min(sizedChunks, n)).getOrElse(sizedChunks)
    val partitioned =
      if (cfg.orderByPrimary && orderCol.isDefined) {
        // range-split on the LEADING key (file boundaries), but sort
        // within files by the WHOLE composite key — sorting on the head
        // column alone leaves rows within one key-group in run-dependent
        // order, breaking the reference's ORDER BY pk contract and
        // byte-stability across runs. With --partition-by the sort must
        // LEAD with the partition columns: the dynamic-partition writer
        // re-sorts each task's rows by those columns with an UNSTABLE
        // sort unless the input already satisfies that ordering — a
        // pk-only sort came back scrambled inside every partition dir
        // (same trap as the shard-write recipe, SamplingPackingSpec)
        val keyCols = if (pk.nonEmpty) pk else orderCol.toSeq
        val sortCols = (cfg.partitionBy ++ keyCols).distinct
        df.repartitionByRange(targetChunks, col(orderCol.get))
          .sortWithinPartitions(sortCols.map(col): _*)
      } else {
        // a small/single-file source scans as one split → the write would
        // be serial; guarantee targetChunks write parallelism (at 100 TB
        // the scan already has >> targetChunks splits and this is a no-op)
        val scanParts = df.rdd.getNumPartitions
        if (scanParts < targetChunks) df.repartition(targetChunks) else df
      }

    // checksum and write are independent full passes — run them as
    // concurrent Spark jobs so they overlap on the executors instead of
    // serializing two scans (the fair scheduler interleaves their tasks)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val checksumF =
      if (cfg.checksum && !noData)
        // coalesce: bit_xor over ZERO rows aggregates to NULL, and an
        // empty table (or an all-excluding WHERE) must checksum as 0,
        // not crash the dump
        Future(df.agg(coalesce(Checksum.tableChecksum(df), lit(0L)))
          .head().getLong(0))
      else Future.successful(0L)
    val rows = if (noData) 0L else cfg.format match {
      case SqlFormat =>
        SqlInsertWriter.write(partitioned, dbStem, stem, cfg.outDir,
          SqlInsertWriter.Options(statementSize = cfg.statementSize,
            compress = cfg.compress, compressCodec = cfg.compressCodec,
            execFilter = cfg.execFilter,
            insertIgnore = cfg.insertIgnore, replace = cfg.replace,
            identQuote = quoteOf(cfg),
            hexBlob = cfg.hexBlob, columnsOnInsert = conf.columnsOnInsert,
            completeInsert = cfg.completeInsert,
            fileSizeBytes = cfg.fileSizeBytes,
            fileHeader = if (cfg.sqlFileHeaders)
              Some(sources.SchemaObjects.fileHeader(
                charset = Some(cfg.setNamesCharset), skipTz = cfg.skipTzUtc))
            else None,
            format = RowFormat.resolve(RowFormat.SqlKind, cfg.rowFormatKnobs,
              ansiQuotes = cfg.ansiQuotes)))
      case LoadDataFormat(csvVariant) =>
        val fmt = RowFormat.resolve(
          if (csvVariant) RowFormat.CsvKind else RowFormat.LoadDataKind,
          cfg.rowFormatKnobs)
        val fileLog = df.sparkSession.sparkContext
          .collectionAccumulator[String](s"files_dumped_${cfg.db}.$stem")
        val n = LoadDataWriter.write(partitioned, dbStem, stem, cfg.outDir,
          LoadDataWriter.Options(format = fmt, header = cfg.includeHeader,
            hexBlob = cfg.hexBlob, statementSize = cfg.statementSize,
            compress = cfg.compress, compressCodec = cfg.compressCodec,
            execFilter = cfg.execFilter,
            fileSizeBytes = cfg.fileSizeBytes,
            fileLog = Some(fileLog)))
        // one companion .sql per data chunk: SET-NAMES header + the
        // LOAD DATA statement naming the chunk's BASENAME
        // (write_load_data_statement, mydumper_write.c:616-625)
        val schemaNames = partitioned.schema
        val hexCols =
          if (cfg.hexBlob)
            schemaNames.fields.collect {
              case f if f.dataType == org.apache.spark.sql.types.BinaryType => f.name
            }.toSet
          else Set.empty[String]
        val ldOpts = CsvDump.Options(
          fieldsTerminatedBy = fmt.fieldsTerminatedBy,
          fieldsEnclosedBy = fmt.fieldsEnclosedBy,
          fieldsEscapedBy = fmt.escapeChar.toString,
          header = cfg.includeHeader,
          linesStartingBy = Some(fmt.linesStartingBy))
        import scala.jdk.CollectionConverters._
        fileLog.value.asScala.toSeq.distinct.foreach { dataFile =>
          val stmtName = dataFile.replaceFirst("\\.dat(\\.[a-z0-9]+)?$", ".sql")
          val text = (if (cfg.sqlFileHeaders)
            sources.SchemaObjects.fileHeader(
              charset = Some(cfg.setNamesCharset), skipTz = cfg.skipTzUtc)
          else "") +
            CsvDump.loadDataStatement(table, dataFile, ldOpts,
              columns = schemaNames.fieldNames.toSeq, hexCols = hexCols,
              columnsOnInsert = conf.columnsOnInsert)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(cfg.outDir, stmtName),
            text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        n
      case CsvFormat =>
        // Observation rides the write job — row count without a second scan
        val obs = new org.apache.spark.sql.Observation()
        CsvDump.write(partitioned.observe(obs, count(lit(1)).as("rows")),
          s"${cfg.outDir}/$dbStem.$stem",
          CsvDump.Options(compress = cfg.compress, codec = cfg.compressCodec))
        obs.get("rows").asInstanceOf[Long]
      case ParquetFormat =>
        val obs = new org.apache.spark.sql.Observation()
        partitioned.observe(obs, count(lit(1)).as("rows"))
          .write.mode("overwrite")
          .partitionBy(cfg.partitionBy: _*)
          .parquet(s"${cfg.outDir}/$dbStem.$stem")
        obs.get("rows").asInstanceOf[Long]
      case OrcFormat =>
        val obs = new org.apache.spark.sql.Observation()
        partitioned.observe(obs, count(lit(1)).as("rows"))
          .write.mode("overwrite")
          .partitionBy(cfg.partitionBy: _*)
          .orc(s"${cfg.outDir}/$dbStem.$stem")
        obs.get("rows").asInstanceOf[Long]
      case JsonlFormat =>
        val obs = new org.apache.spark.sql.Observation()
        partitioned.observe(obs, count(lit(1)).as("rows"))
          .write.mode("overwrite")
          .partitionBy(cfg.partitionBy: _*)
          // jsonl is an engine extension (no reference analog), and
          // Spark's zstd text codec needs native Hadoop libs — the lake
          // format stays on gzip regardless of --compress's codec
          .option("compression", if (cfg.compress) "gzip" else "none")
          .json(s"${cfg.outDir}/$dbStem.$stem")
        obs.get("rows").asInstanceOf[Long]
      case ClickHouseFormat =>
        // companion loader script: one INSERT..FROM INFILE per chunk
        // file (write_clickhouse_statement pairs one statement per data
        // file; a single ordered script is the driver-side equivalent
        // and still fans out — statements are independent). The file
        // list comes from the WRITER (accumulator), not a directory
        // re-listing: listing picks up stale chunks from earlier dumps
        // into the same dir and returns nothing on non-local filesystems.
        val fileLog = df.sparkSession.sparkContext
          .collectionAccumulator[String](s"files_dumped_${cfg.db}.$stem")
        val n = SqlInsertWriter.write(partitioned, dbStem, stem, cfg.outDir,
          SqlInsertWriter.Options(statementSize = cfg.statementSize,
            compress = cfg.compress, fileLog = Some(fileLog)))
        import scala.jdk.CollectionConverters._
        val dataFiles = fileLog.value.asScala.toSeq.distinct.sorted
        java.nio.file.Files.write(
          java.nio.file.Paths.get(cfg.outDir, s"$dbStem.$stem-load.sql"),
          sources.ClickHouse.loaderScript(cfg.db, table, dataFiles)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        n
    }
    // --build-empty-files: the reference keeps the opened (header-only)
    // file for a zero-row table instead of deleting it
    // (mydumper_file_handler.c:194,324); our writers open lazily on the
    // first row, so materialize the equivalent file here
    if (rows == 0L && cfg.buildEmptyFiles && !noData) {
      val emptyFile = cfg.format match {
        case SqlFormat | ClickHouseFormat => Some((".sql",
          if (cfg.sqlFileHeaders) sources.SchemaObjects.fileHeader(
            charset = Some(cfg.setNamesCharset), skipTz = cfg.skipTzUtc)
          else ""))
        case LoadDataFormat(_) => Some((".dat", ""))
        case _ => None // columnar formats write their own dir structure
      }
      emptyFile.foreach { case (ext, content) =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(cfg.outDir, f"$dbStem.$stem.${0}%05d$ext"),
          content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    // ClickHouse-dialect DDL is a SCHEMA artifact: emitted whenever the
    // dump format targets ClickHouse and schemas are wanted — including
    // schema-only (--no-data) dumps, which previously lost it because it
    // rode inside the data branch; and suppressed by --no-schemas, which
    // previously still wrote it
    if (cfg.format == ClickHouseFormat && !noSchemas)
      writeSchemaObject(cfg.outDir, dbStem, SchemaKind.ClickHouse,
        sources.ClickHouse.createTable(cfg.db, table, df.schema,
          orderBy = cfg.primaryKeys.getOrElse(table, Nil)),
        Some(stem))
    // self-describing dump: the table DDL rides along as
    // db.table-schema.sql (reference mydumper_jobs.c:238 — every dump
    // carries its schema so a restore needs no live source catalog);
    // parquet/orc embed their schemas already
    if (cfg.format != ParquetFormat && cfg.format != OrcFormat && !noSchemas)
      writeSchemaObject(cfg.outDir, dbStem, SchemaKind.Table,
        sources.DdlEmitter.createTable(cfg.db, table, df.schema, pk,
          quote = quoteOf(cfg)),
        Some(stem))
    // surrogate db: the REAL database name is only recoverable from
    // DDL, so always pair it with a schema-create file (the reference
    // renames to mydumper_N and keeps CREATE DATABASE in
    // mydumper_N-schema-create.sql, specific_32 / mydumper_common.c)
    if (dbStem != cfg.db && !noSchemas)
      writeSchemaObject(cfg.outDir, dbStem, SchemaKind.Database,
        sources.SchemaObjects.fileHeader() +
          s"CREATE DATABASE /*!32312 IF NOT EXISTS*/ ${quoteOf(cfg)}${cfg.db}${quoteOf(cfg)};\n",
        ifAbsent = true)
    TableResult(table, rows, Await.result(checksumF, Duration.Inf),
      if (noData) 0 else targetChunks, stem = stem,
      // lake layouts read back in a different shape than they dumped
      // (partitionBy appends partition columns; JSON inference
      // alphabetizes and widens) — record the dump-time schema so the
      // loader can conform before checksum verification
      schemaJson = Some(df.schema.json)
        .filter(_ => cfg.format == ParquetFormat || cfg.format == OrcFormat ||
          cfg.format == JsonlFormat))
  }

  /** Schema-object kinds a dump can carry besides table data — the
    * reference's non-data files (mydumper_write.c schema writers;
    * classified back by [[Load.classify]]'s mirror taxonomy). */
  sealed trait SchemaKind { def suffix: String; def perTable: Boolean }
  object SchemaKind {
    case object Database extends SchemaKind { val suffix = "-schema-create.sql"; val perTable = false }
    case object Table extends SchemaKind { val suffix = "-schema.sql"; val perTable = true }
    case object View extends SchemaKind { val suffix = "-schema-view.sql"; val perTable = true }
    case object Sequence extends SchemaKind { val suffix = "-schema-sequence.sql"; val perTable = true }
    case object Triggers extends SchemaKind { val suffix = "-schema-triggers.sql"; val perTable = true }
    case object Post extends SchemaKind { val suffix = "-schema-post.sql"; val perTable = false }
    /** ClickHouse-dialect DDL riding alongside the MySQL-dialect schema
      * file on S7 dumps (engine extension; the reference ships none). */
    case object ClickHouse extends SchemaKind { val suffix = "-schema-clickhouse.sql"; val perTable = true }
  }

  /** Write one schema object under the reference's naming scheme so the
    * loader's router/phases pick it up: `db-schema-create.sql`,
    * `db.table-schema-view.sql`, `db-schema-post.sql`, … The DDL text
    * comes from the source (SHOW CREATE … on MySQL lineage, or the
    * engine's own DDL emitter); this writer only owns naming+placement. */
  def writeSchemaObject(outDir: String, db: String, kind: SchemaKind,
      ddl: String, table: Option[String] = None,
      ifAbsent: Boolean = false): java.nio.file.Path = {
    require(!kind.perTable || table.isDefined, s"$kind needs a table name")
    val base = table match {
      case Some(t) if kind.perTable => s"$db.$t${kind.suffix}"
      case _                        => s"$db${kind.suffix}"
    }
    val p = java.nio.file.Paths.get(outDir, base)
    java.nio.file.Files.createDirectories(p.getParent)
    // ifAbsent: shared single-content files (the db schema-create) may
    // be attempted by several table threads at once; CREATE_NEW makes
    // first-writer-wins atomic, so no reader ever observes a
    // truncated-mid-rewrite file
    if (ifAbsent)
      try java.nio.file.Files.write(p,
        ddl.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE_NEW)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
    else
      java.nio.file.Files.write(p,
        ddl.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    p
  }

  /** Dump a view as the reference's PAIR (write_view_definition_into_file,
    * mydumper_jobs.c:472-620): `db.view-schema.sql` carries the
    * dependency placeholder TABLE (so restore ordering can satisfy
    * view-on-view/table dependencies before any view exists) and
    * `db.view-schema-view.sql` the DROP+charset+CREATE VIEW payload.
    * Under `viewsAsTables` only the placeholder (with REAL column
    * types) is written — the view's data then dumps like a table's. */
  def writeView(outDir: String, db: String, view: String,
      columns: Seq[(String, String)], createViewDdl: String,
      viewsAsTables: Boolean = false,
      replaceDefiner: Option[String] = None,
      skipDefiner: Boolean = false): Seq[java.nio.file.Path] = {
    val dep = sources.SchemaObjects.viewDependencyTable(view, columns,
      viewsAsTables = viewsAsTables)
    val depPath = writeSchemaObject(outDir, db, SchemaKind.Table,
      sources.SchemaObjects.fileHeader() + dep, Some(view))
    if (viewsAsTables) Seq(depPath)
    else Seq(depPath, writeSchemaObject(outDir, db, SchemaKind.View,
      sources.SchemaObjects.createViewFile(view, createViewDdl,
        replaceDefiner = replaceDefiner, skipDefiner = skipDefiner),
      Some(view)))
  }

  /** Route a discovered view set through the reference's three modes
    * (specific_33/35): default emits the placeholder + CREATE VIEW pair
    * per view and NO data; `--no-views` emits nothing view-related at
    * all (mydumper skips views entirely,
    * mydumper_working_thread.c no-views branch); `--views-as-tables`
    * emits ONE placeholder with the view's REAL column types and then
    * dumps the view's ROWS like a table's, so the restore produces a
    * materialized base table. `readView` supplies the data frame (live
    * JDBC read of the view, or any equivalent source) and is only
    * invoked under viewsAsTables. Returns the data-phase TableResults
    * (non-empty only under viewsAsTables) for the caller's manifest. */
  def dumpViews(views: Seq[graft.extract.Discovery.ViewMeta], cfg: Config,
      noViews: Boolean = false, viewsAsTables: Boolean = false,
      readView: String => DataFrame = null,
      replaceDefiner: Option[String] = None,
      skipDefiner: Boolean = false): Seq[TableResult] =
    if (noViews) Nil
    else views.flatMap { v =>
      writeView(cfg.outDir, cfg.stems.stem(cfg.db), v.name, v.columns,
        // a backend without retrievable view DDL still gets its
        // placeholder; the view file then carries a bare re-creatable
        // shell (never silently dropped — restores fail loudly there
        // rather than quietly missing a view)
        v.definition.getOrElse(
          s"CREATE VIEW ${v.name} AS SELECT 1 /* definition unavailable */"),
        viewsAsTables = viewsAsTables, replaceDefiner = replaceDefiner,
        skipDefiner = skipDefiner)
      if (viewsAsTables) Some(dumpTable(readView(v.name), v.name, cfg))
      else None
    }

  /** Dump a set of tables; transactional/non-transactional phase split
    * (T4) honored by ordering. Returns the manifest.
    *
    * `tableThreads` > 1 dumps tables CONCURRENTLY within each phase —
    * the reference's worker-thread pool, where one slow/large table must
    * not serialize the whole dump behind it (mydumper's -t threads pull
    * table jobs off a shared queue). Each table is still one set of
    * distributed Spark jobs; concurrency here just keeps the scheduler
    * fed, and Spark's fair/FIFO scheduling interleaves their tasks.
    * Manifest order stays the input order regardless of completion
    * order. Default 1 preserves strictly-sequential behavior (byte-level
    * determinism of interleaved driver-side writes like shared stems is
    * the caller's concern above 1). */
  def run(spark: SparkSession, tables: Seq[(String, DataFrame, Boolean)],
      cfg: Config, tableThreads: Int = 1): DumpManifest = {
    val start = java.time.Instant.now().toString
    // every dump carries its database's CREATE: the reference writes
    // db-schema-create.sql per dumped database whenever schemas are
    // wanted (write_schema_create; specific_15 pins that an EMPTY
    // database dumps exactly this file + metadata), and the loader
    // replays it in phase 1. Emitted once here — not per table — so a
    // tableThreads>1 run never races writers on the shared file;
    // dumpTable keeps its surrogate-name pair for standalone callers.
    if (!cfg.noSchemas)
      writeSchemaObject(cfg.outDir, cfg.stems.stem(cfg.db), SchemaKind.Database,
        sources.SchemaObjects.fileHeader() +
          s"CREATE DATABASE /*!32312 IF NOT EXISTS*/ ${quoteOf(cfg)}${cfg.db}${quoteOf(cfg)};\n")
    val (trx, nonTrx) = tables.partition(_._3)
    def phase(ts: Seq[(String, DataFrame, Boolean)]): Seq[TableResult] =
      if (tableThreads <= 1) ts.map { case (name, df, _) => dumpTable(df, name, cfg) }
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(
          java.util.concurrent.Executors.newFixedThreadPool(tableThreads))
        try Await.result(
          Future.sequence(ts.map { case (name, df, _) =>
            Future(dumpTable(df, name, cfg))
          }), Duration.Inf)
        finally ec.asInstanceOf[scala.concurrent.ExecutionContextExecutorService]
          .shutdown()
      }
    val results = phase(nonTrx) ++ phase(trx)
    val manifest = DumpManifest(
      startedAt = start,
      finishedAt = java.time.Instant.now().toString,
      quoteChar = quoteOf(cfg),
      tables = results.map(r =>
        TableManifest(r.table, r.rows, Some(r.checksum.toString),
          filename = Some(r.stem).filter(_ != r.table),
          sparkSchema = r.schemaJson)))
    // persist as the dump dir's `metadata` file (reference
    // mydumper_start_dump.c:1161-1182) so the dump is self-describing
    sources.Manifest.write(cfg.outDir, manifest)
    manifest
  }
}
