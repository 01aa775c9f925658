package graft

import graft.cli.Main
import org.scalatest.funsuite.AnyFunSuite

class CliSpec extends AnyFunSuite {

  test("flag parsing: long, short-alias, valueless, ignored") {
    val o = Main.parseFlags(Array(
      "--source-dir", "/data", "-o", "/out", "--compress",
      "--tables-list", "a,b", "-t", "8", "--pmm-path", "/x"))
    assert(o("source-dir") === "/data")
    assert(o("outputdir") === "/out")
    assert(o("compress") === "true")
    assert(o("tables-list") === "a,b")
    assert(o("threads") === "8")
    assert(!o.contains("pmm-path")) // accepted-but-ignored operational flag
  }

  test("flag parsing: dash-leading values and boolean flags don't swallow tokens") {
    // a value starting with '-' used to be misread as the next flag
    val o = Main.parseFlags(Array("--regex", "-internal$", "--compress",
      "--where", "x > -5"))
    assert(o("regex") === "-internal$")
    assert(o("compress") === "true")
    assert(o("where") === "x > -5")
    // boolean flags never consume the following token
    val o2 = Main.parseFlags(Array("--compress", "--source-dir", "/d"))
    assert(o2("compress") === "true")
    assert(o2("source-dir") === "/d")
  }

  test("-s is command-aware: dump statement-size, load source-db") {
    // the reference's binaries each own -s: mydumper -s=--statement-size,
    // myloader -s=--source-db (myloader_arguments.c) — a shared alias
    // silently skipped the load side's source-db admission filter
    assert(Main.parseFlags(Array("-s", "4096"), cmd = "dump")
      ("statement-size") === "4096")
    assert(Main.parseFlags(Array("-s", "mydb"), cmd = "load")
      ("source-db") === "mydb")
  }

  test("ignored no-arg reference flags stay positionally correct") {
    // -K/-G/-E/-R/-W etc. take no argument in the reference; an ignored
    // flag consuming the next token would swallow real flags/values
    val o = Main.parseFlags(Array("-K", "-G", "-E", "--rows", "100"))
    assert(o === Map("rows" -> "100"))
    val o2 = Main.parseFlags(Array("--triggers", "--compress",
      "--source-dir", "/d"))
    assert(o2("compress") === "true" && o2("source-dir") === "/d")
    // value-taking ignored flags still consume exactly their value
    val o3 = Main.parseFlags(Array("--tidb-snapshot", "3", "--compress"))
    assert(o3 === Map("compress" -> "true"))
    // formerly-ignored flags that are now implemented parse normally
    val o4 = Main.parseFlags(Array("-U", "3", "-O", "/tmp/skip.txt",
      "--compress"))
    assert(o4 === Map("updated-since" -> "3",
      "omit-from-file" -> "/tmp/skip.txt", "compress" -> "true"))
  }

  test("--rows-hard clamps --rows instead of being shadowed by it") {
    // mydumper_table.c:436: the hard min/max are always honored ON TOP
    // of --rows; alone, rows-hard sizes like --rows
    def m(kv: (String, String)*) = kv.toMap
    assert(Main.rowsPerChunkOf(m("rows" -> "100000",
      "rows-hard" -> "1000:5000:50000")) === Some(50000L))
    assert(Main.rowsPerChunkOf(m("rows" -> "100",
      "rows-hard" -> "1000:5000:50000")) === Some(1000L))
    assert(Main.rowsPerChunkOf(m("rows" -> "20000",
      "rows-hard" -> "1000:5000:50000")) === Some(20000L))
    // hard max=0 = uncapped (the reference convention)
    assert(Main.rowsPerChunkOf(m("rows" -> "999999",
      "rows-hard" -> "1000:5000:0")) === Some(999999L))
    assert(Main.rowsPerChunkOf(m("rows" -> "100000")) === Some(100000L))
    assert(Main.rowsPerChunkOf(m("rows-hard" -> "1000:5000:50000"))
      === Some(5000L))
    assert(Main.rowsPerChunkOf(Map.empty) === None)
  }

  test("repeated --regex accumulates and ORs like the reference's re_list") {
    // regex.c:35 appends every -x/--regex occurrence; eval_regex walks
    // the list until the first match
    val m = Main.parseFlagsMulti(Array("-x", "lineitem$", "--regex", "^tpch\\.n",
      "-t", "4"))
    assert(m("regex") === Seq("lineitem$", "^tpch\\.n"))
    assert(m("threads") === Seq("4"))
    // last-wins view stays stable for single-valued flags
    assert(Main.parseFlags(Array("-t", "4", "-t", "8"))("threads") === "8")

    import graft.core.{ColumnMeta, TableMeta}
    def t(db: String, tbl: String) =
      TableMeta(db, tbl, Seq(ColumnMeta("c", "int")))
    val spec = graft.extract.TableFilter.Spec(
      regexes = Seq("lineitem$", "^tpch\\.n"))
    assert(graft.extract.TableFilter.accepts(spec, t("tpch", "lineitem")))
    assert(graft.extract.TableFilter.accepts(spec, t("tpch", "nation")))
    assert(!graft.extract.TableFilter.accepts(spec, t("tpch", "orders")))
    // no patterns at all -> accept everything non-system
    assert(graft.extract.TableFilter.accepts(
      graft.extract.TableFilter.Spec(), t("tpch", "orders")))
  }
}

/** End-to-end CLI run against the dev slice (needs a session). */
class CliRunSpec extends SparkTestBase {

  test("dump command writes jsonl and fires the exec hook per file") {
    val out = java.nio.file.Files.createTempDirectory("graft_cli_").toString
    // exec hook proof: copy each produced item name into a log
    val log = s"$out/.hook_log"
    Main.main(Array("dump",
      "--source-dir", sf, "-o", out, "--format", "jsonl",
      "--tables-list", "region,nation",
      "--exec", s"echo FILENAME >> $log"))
    val written = new java.io.File(out).listFiles().map(_.getName).toSet
    assert(written.contains("graft.region") && written.contains("graft.nation"))
    val back = spark.read.schema(Tables.t(spark, sf, "region").schema)
      .json(s"$out/graft.region")
    assert(back.count() === Tables.t(spark, sf, "region").count())
    val hooked = scala.io.Source.fromFile(log).getLines().toSeq
    assert(hooked.exists(_.endsWith("graft.region")) &&
      hooked.exists(_.endsWith("graft.nation")))
  }

  test("--exec-per-thread round trip under a NON-codec extension") {
    // .sql.gzx has no Hadoop codec route: only the exec paths can write
    // AND read it — proving both sides of the reference's flag pair
    val out = java.nio.file.Files.createTempDirectory("graft_cli_xpt_").toString
    Main.main(Array("dump",
      "--source-dir", sf, "-o", out, "--tables-list", "region",
      "--exec-per-thread", "gzip -c",
      "--exec-per-thread-extension", ".sql.gzx"))
    val files = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("graft.region.")).filterNot(_.contains("schema"))
    assert(files.nonEmpty && files.forall(_.endsWith(".sql.gzx")),
      s"unexpected dump names: ${files.toSeq}")
    val restored = java.nio.file.Files.createTempDirectory("graft_cli_xptr_").toString
    Main.main(Array("load", "-d", out, "--target", restored,
      "--checksum", "fail",
      "--exec-per-thread", "gzip -dc",
      "--exec-per-thread-extension", ".sql.gzx"))
    val back = spark.read.parquet(s"$restored/graft.region")
    assert(back.count() === Tables.t(spark, sf, "region").count())
  }

  test("load without --source-dir restores from the dump's own schema files") {
    // the documented default usage (`load -d dir --target t`) used to
    // silently restore ZERO tables; it must reconstruct schemas from the
    // dump's db.table-schema.sql artifacts
    val out = java.nio.file.Files.createTempDirectory("graft_cli_ld_").toString
    val restored = java.nio.file.Files.createTempDirectory("graft_cli_rt_").toString
    Main.main(Array("dump",
      "--source-dir", sf, "-o", out, "--tables-list", "region"))
    Main.main(Array("load", "-d", out, "--target", restored, "--checksum", "fail"))
    val back = spark.read.parquet(s"$restored/graft.region")
    assert(back.count() === Tables.t(spark, sf, "region").count())
  }

  test("--rows sizes the chunk count from the row estimate") {
    val out = java.nio.file.Files.createTempDirectory("graft_cli_rows_").toString
    // orders at sf0.001 ≈ 1,500 rows; 200 rows/chunk → ~8 chunk files
    Main.main(Array("dump",
      "--source-dir", sf, "-o", out, "--tables-list", "orders",
      "--rows", "200"))
    val chunkFiles = new java.io.File(out).listFiles().map(_.getName)
      .count(_.matches("""graft\.orders\.\d{5}\.sql"""))
    assert(chunkFiles >= 4 && chunkFiles <= 16,
      s"--rows 200 over ~1500 rows should give ~8 chunks, got $chunkFiles")
  }

  test("--no-data dumps schemas only; --no-schemas dumps data only") {
    val out = java.nio.file.Files.createTempDirectory("graft_nodata_").toString
    Main.main(Array("dump",
      "--source-dir", sf, "-o", out, "--tables-list", "region", "--no-data"))
    val files = new java.io.File(out).listFiles().map(_.getName).toSet
    assert(files.contains("graft.region-schema.sql"))
    assert(!files.exists(_.matches("""graft\.region\.\d{5}.*""")),
      s"schema-only dump wrote data chunks: $files")

    val out2 = java.nio.file.Files.createTempDirectory("graft_noschema_").toString
    Main.main(Array("dump",
      "--source-dir", sf, "-o", out2, "--tables-list", "region", "--no-schemas"))
    val files2 = new java.io.File(out2).listFiles().map(_.getName).toSet
    assert(!files2.contains("graft.region-schema.sql"))
    assert(files2.exists(_.matches("""graft\.region\.\d{5}\.sql""")))
  }
}

/** Round-7 flag-surface additions: reference spellings wired to their
  * engine homes (chunk-filesize rotation, compact headers, daemon
  * rotation, build-empty-files, masquerade file, clear). */
class CliFlagSurfaceSpec extends SparkTestBase {

  private def names(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles).map(_.map(_.getName).toSet)
      .getOrElse(Set.empty)

  test("--omit-from-file skiplist applies on dump AND load " +
      "(common_options.c:222, tables_skiplist.c:35-88)") {
    val skipF = java.nio.file.Files.createTempFile("graft_skip_", ".txt")
    java.nio.file.Files.writeString(skipF, "graft.nation\n# comment\n\n")
    // dump side: nation filtered out before anything is written
    val out = java.nio.file.Files.createTempDirectory("graft_cli_omd_").toString
    Main.main(Array("dump", "--source-dir", sf, "-o", out,
      "--tables-list", "region,nation", "-O", skipF.toString))
    assert(names(out).exists(_.startsWith("graft.region.")))
    assert(!names(out).exists(_.startsWith("graft.nation.")),
      s"skiplisted table dumped: ${names(out)}")
    // load side: a full dump restores everything EXCEPT the skiplisted
    // stem (myloader's shared common_filter_entries)
    val out2 = java.nio.file.Files.createTempDirectory("graft_cli_oml_").toString
    val restored = java.nio.file.Files.createTempDirectory("graft_cli_omr_").toString
    Main.main(Array("dump", "--source-dir", sf, "-o", out2,
      "--tables-list", "region,nation"))
    Main.main(Array("load", "-d", out2, "--target", restored,
      "--omit-from-file", skipF.toString))
    assert(new java.io.File(s"$restored/graft.region").exists)
    assert(!new java.io.File(s"$restored/graft.nation").exists,
      "skiplisted table restored")
  }

  test("--updated-since dumps only recently-updated tables and records " +
      "the rest in not_updated_tables (mydumper_start_dump.c:525-545)") {
    // file-source UPDATE_TIME analog = the table's newest parquet mtime:
    // copy the source slice and age one table far past the window
    val src2 = java.nio.file.Files.createTempDirectory("graft_cli_us_src_")
    for (t <- Seq("region", "nation")) {
      val from = java.nio.file.Paths.get(sf, s"$t.parquet")
      java.nio.file.Files.copy(from, src2.resolve(s"$t.parquet"))
    }
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 10L * 86400000L)
    java.nio.file.Files.setLastModifiedTime(
      src2.resolve("nation.parquet"), old)
    val out = java.nio.file.Files.createTempDirectory("graft_cli_us_").toString
    Main.main(Array("dump", "--source-dir", src2.toString, "-o", out,
      "--tables-list", "region,nation", "-U", "3"))
    assert(names(out).exists(_.startsWith("graft.region.")))
    assert(!names(out).exists(_.startsWith("graft.nation.")),
      s"stale table dumped: ${names(out)}")
    val nu = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, "not_updated_tables"))
    assert(nu.trim === "graft.nation", s"not_updated_tables: '$nu'")
  }

  test("--resume restores exactly the files the resume list names " +
      "(myloader.c:549-557, myloader_directory.c:83-113)") {
    val out = java.nio.file.Files.createTempDirectory("graft_cli_rs_").toString
    Main.main(Array("dump", "--source-dir", sf, "-o", out,
      "--tables-list", "region,nation"))
    // --resume without a resume file is fatal (myloader.c:555)
    val r0 = java.nio.file.Files.createTempDirectory("graft_cli_rs0_").toString
    val eNoFile = intercept[IllegalArgumentException] {
      Main.main(Array("load", "-d", out, "--target", r0, "--resume"))
    }
    assert(eNoFile.getMessage.contains("Resume file not found"))
    // a resume file without --resume is fatal (myloader_common.c:620-623)
    val nationData = names(out)
      .filter(_.matches("""graft\.nation\.\d{5}\.sql""")).toSeq.sorted
    assert(nationData.nonEmpty)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out, "resume"),
      (Seq("graft.nation-schema.sql") ++ nationData).mkString("", "\n", "\n"))
    val eNoFlag = intercept[IllegalStateException] {
      Main.main(Array("load", "-d", out, "--target", r0))
    }
    assert(eNoFlag.getMessage.contains("resume"))
    // with both: ONLY the listed table restores, full and checksum-ok
    val lf = java.nio.file.Files.createTempFile("graft_cli_rs_log", ".txt").toString
    Main.main(Array("load", "-d", out, "--target", r0, "--resume",
      "--checksum", "fail", "--logfile", lf))
    assert(!new java.io.File(s"$r0/graft.region").exists,
      "unlisted table restored under --resume")
    val back = spark.read.parquet(s"$r0/graft.nation")
    assert(back.count() === Tables.t(spark, sf, "nation").count())
    val lines = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(lf)))
      .asScala.filter(_.startsWith("[graft] restored"))
    assert(lines.size === 1 && lines.head.endsWith("checksum ok"), lines)
  }

  test("--resume at chunk granularity appends only the listed files") {
    // a crashed prior run left SOME chunks restored; the resume list
    // names the remainder — the loader must read exactly those and
    // APPEND to the partial target instead of overwriting it
    val out = java.nio.file.Files.createTempDirectory("graft_cli_rc_").toString
    Main.main(Array("dump", "--source-dir", sf, "-o", out,
      "--tables-list", "lineitem", "-r", "2000"))
    val chunks = names(out)
      .filter(_.matches("""graft\.lineitem\.\d{5}\.sql""")).toSeq.sorted
    assert(chunks.size > 1, s"need a multi-chunk dump, got $chunks")
    val total = Tables.t(spark, sf, "lineitem").count()
    // prior run: everything but the last chunk
    val r1 = java.nio.file.Files.createTempDirectory("graft_cli_rc1_").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "resume"),
      chunks.init.mkString("", "\n", "\n"))
    Main.main(Array("load", "-d", out, "--target", r1, "--resume",
      "--checksum", "skip"))
    val partial = spark.read.parquet(s"$r1/graft.lineitem").count()
    assert(partial > 0 && partial < total, s"partial=$partial total=$total")
    // resumed run: just the last chunk — lands on top, completing the
    // table, and the post-append read-back checksum verifies vs manifest
    val lf = java.nio.file.Files.createTempFile("graft_cli_rc_log", ".txt").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "resume"),
      chunks.last + "\n")
    Main.main(Array("load", "-d", out, "--target", r1, "--resume",
      "--checksum", "fail", "--logfile", lf))
    assert(spark.read.parquet(s"$r1/graft.lineitem").count() === total)
    val lines = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(lf)))
      .asScala.filter(_.startsWith("[graft] restored"))
    assert(lines.size === 1 && lines.head.endsWith("checksum ok"), lines)
  }

  test("reference specific_24 cnf pair drives dump -> load -> checksum " +
      "end-to-end with zero flag translation") {
    // the reference's test/specific_24 config pair (mydumper threads=8
    // + outputdir + database rename; myloader threads=8, worker-pool
    // caps, bare drop-table, directory) feeds --defaults-extra-file
    // exactly as test_mydumper.sh composes it — proving the option
    // surface COMPOSES through core/DefaultsFile, not just parses. Only
    // the harness-style wrapper flags (source, target, checksum,
    // logfile) ride along, as they do in the reference harness
    // (test_mydumper.sh:249-250).
    def cnf(content: String): String = {
      val f = java.nio.file.Files.createTempFile("graft_s24_", ".cnf")
      java.nio.file.Files.writeString(f, content)
      f.toString
    }
    val mcnf = cnf(
      """[mydumper]
        |threads=8
        |outputdir=/tmp/data
        |database=specific_24
        |""".stripMargin)
    val lcnf = cnf(
      """[myloader]
        |threads=8
        |max-threads-for-schema-creation=4
        |max-threads-for-index-creation=4
        |max-threads-for-post-actions=1
        |drop-table
        |directory=/tmp/data
        |""".stripMargin)
    // the cnf pins outputdir=/tmp/data (the harness wipes it per case)
    val data = new java.io.File("/tmp/data")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(data)
    Main.main(Array("dump", s"--defaults-extra-file=$mcnf",
      "--source-dir", sf, "--tables-list", "region,nation"))
    // database=specific_24 renames the dump db; threads=8 comes from cnf
    val dumped = names("/tmp/data")
    assert(dumped.exists(_.startsWith("specific_24.region.")), dumped)
    assert(dumped.exists(_.startsWith("specific_24.nation.")), dumped)
    val restored = java.nio.file.Files.createTempDirectory("graft_cli_s24_").toString
    val lf = java.nio.file.Files.createTempFile("graft_cli_s24_log", ".txt").toString
    Main.main(Array("load", s"--defaults-extra-file=$lcnf",
      "--target", restored, "--checksum", "fail", "--logfile", lf))
    for (t <- Seq("region", "nation"))
      assert(spark.read.parquet(s"$restored/specific_24.$t").count()
        === Tables.t(spark, sf, t).count())
    val lines = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(lf)))
      .asScala.filter(_.startsWith("[graft] restored"))
    assert(lines.size === 2 && lines.forall(_.endsWith("checksum ok")), lines)
    rm(data)
  }

  test("--resume on a LOAD_DATA dump keeps .sql companions away from " +
      "the row reader") {
    // a LOAD_DATA resume list names .dat chunks alongside their .sql
    // LOAD DATA statements (the reference queues every listed file);
    // the row reader must consume only the .dat side while delimiter
    // recovery still reads the companions
    val out = java.nio.file.Files.createTempDirectory("graft_cli_rld_").toString
    Main.main(Array("dump", "--source-dir", sf, "-o", out,
      "--tables-list", "nation", "--format", "load_data"))
    val all = names(out).filter(_.startsWith("graft.nation."))
    val dats = all.filter(_.endsWith(".dat")).toSeq.sorted
    assert(dats.nonEmpty, s"no .dat chunks in $all")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "resume"),
      all.toSeq.sorted.mkString("", "\n", "\n")) // .dat AND .sql listed
    val r = java.nio.file.Files.createTempDirectory("graft_cli_rldr_").toString
    val lf = java.nio.file.Files.createTempFile("graft_cli_rld_log", ".txt").toString
    Main.main(Array("load", "-d", out, "--target", r, "--resume",
      "--checksum", "fail", "--logfile", lf))
    assert(spark.read.parquet(s"$r/graft.nation").count()
      === Tables.t(spark, sf, "nation").count())
    val lines = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(lf)))
      .asScala.filter(_.startsWith("[graft] restored"))
    assert(lines.size === 1 && lines.head.endsWith("checksum ok"), lines)
  }

  test("ANSI_QUOTES session mode flips identifier quoting end-to-end " +
      "(reference specific_6, detect_quote_character)") {
    // [mydumper_session_variables] sql_mode carrying ANSI_QUOTES makes
    // `"` the identifier quote — in DDL, INSERT headers, and the
    // manifest's symbolic quote-character — and therefore `'` the SQL
    // string enclosure (the reference's detect_quote_character pair,
    // mydumper_start_dump.c:403-427); the restore must round-trip
    // checksum-exact through the quote-aware reader
    val cnf = java.nio.file.Files.createTempFile("graft_ansi_", ".cnf")
    java.nio.file.Files.writeString(cnf,
      "[mydumper]\ntables-list=region\n\n" +
        "[mydumper_session_variables]\nsql_mode='ANSI_QUOTES'\n")
    val out = java.nio.file.Files.createTempDirectory("graft_cli_aq_").toString
    Main.main(Array("dump", s"--defaults-extra-file=${cnf.toString}",
      "--source-dir", sf, "-o", out))
    val ddl = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, "graft.region-schema.sql"))
    assert(ddl.contains("\"region\"") && ddl.contains("\"r_name\""), ddl)
    assert(!ddl.contains("`"), s"backticks in ANSI DDL: $ddl")
    val dataFile = names(out).filter(_.matches("""graft\.region\.\d{5}\.sql"""))
      .toSeq.sorted.head
    val data = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, dataFile))
    assert(data.contains("INSERT INTO \"region\""), data.take(200))
    assert(data.matches("(?s).*VALUES\\(\\d+,'.*"),
      s"ANSI mode must enclose strings with ': ${data.take(300)}")
    val meta = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, "metadata"))
    assert(meta.contains("quote-character = DOUBLE_QUOTE"), meta.take(200))
    // restore round-trips checksum-exact
    val r = java.nio.file.Files.createTempDirectory("graft_cli_aqr_").toString
    val lf = java.nio.file.Files.createTempFile("graft_cli_aq_log", ".txt").toString
    Main.main(Array("load", "-d", out, "--target", r,
      "--checksum", "fail", "--logfile", lf))
    assert(spark.read.parquet(s"$r/graft.region").count()
      === Tables.t(spark, sf, "region").count())
    val lines = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(lf)))
      .asScala.filter(_.startsWith("[graft] restored"))
    assert(lines.size === 1 && lines.head.endsWith("checksum ok"), lines)
  }

  test("--partition-by with a non-lake format fails fast") {
    // only the parquet/jsonl writers apply the hive layout; under
    // --format sql the flag used to be silently ignored, which reads as
    // a successful partitioned dump
    val out = java.nio.file.Files.createTempDirectory("graft_cli_pbf_").toString
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("dump", "--source-dir", sf, "-o", out,
        "--tables-list", "region", "--partition-by", "r_regionkey"))
    }
    assert(e.getMessage.contains("lake formats"), e.getMessage)
  }

  test("-F/--chunk-filesize rotates data files; --compact drops headers") {
    val out = java.nio.file.Files.createTempDirectory("graft_cli_F_").toString
    // 1 MB rotation over sf0.001 lineitem (~6k rows, ~1 MB of SQL text)
    Main.main(Array("dump", "--source-dir", sf, "-o", out,
      "--tables-list", "lineitem", "-F", "1", "--compact", "-t", "2"))
    val data = names(out).filter(_.matches("""graft\.lineitem\.\d{5}\.\d{5}\.sql"""))
    assert(data.nonEmpty, s"rotation should name sub-parts: ${names(out)}")
    val first = scala.io.Source.fromFile(s"$out/${data.min}").getLines().take(3).mkString("\n")
    assert(!first.contains("SET NAMES"), s"--compact must drop the header: $first")
    assert(first.contains("INSERT"))
  }

  test("--build-empty-files emits a data file for a zero-row table") {
    val out = java.nio.file.Files.createTempDirectory("graft_cli_e_").toString
    // empty slice via a WHERE no row satisfies
    Main.main(Array("dump", "--source-dir", sf, "-o", out,
      "--tables-list", "region", "--where", "r_regionkey < 0", "-e"))
    assert(names(out).contains("graft.region.00000.sql"),
      s"expected empty data file, got ${names(out)}")
    // and without -e the zero-row table writes no data file
    val out2 = java.nio.file.Files.createTempDirectory("graft_cli_ne_").toString
    Main.main(Array("dump", "--source-dir", sf, "-o", out2,
      "--tables-list", "region", "--where", "r_regionkey < 0"))
    assert(!names(out2).exists(_.matches("""graft\.region\.\d{5}\.sql""")),
      s"no -e must mean no empty data file: ${names(out2)}")
  }

  test("--set-names and --skip-tz-utc shape the SQL file header") {
    val out = java.nio.file.Files.createTempDirectory("graft_cli_sn_").toString
    Main.main(Array("dump", "--source-dir", sf, "-o", out,
      "--tables-list", "region", "--set-names", "utf8mb4", "--skip-tz-utc"))
    val data = names(out).filter(_.matches("""graft\.region\.\d{5}\.sql""")).min
    val head = scala.io.Source.fromFile(s"$out/$data").getLines().take(4).mkString("\n")
    assert(head.contains("SET NAMES utf8mb4"), head)
    assert(!head.contains("TIME_ZONE"), head)
  }

  test("--daemon rotates snapshot dirs and advances last_dump") {
    val base = java.nio.file.Files.createTempDirectory("graft_cli_D_").toString
    Main.main(Array("dump", "--source-dir", sf, "-o", base,
      "--tables-list", "region", "-D", "-X", "2", "-I", "0",
      "--snapshot-iterations", "3"))
    assert(names(s"$base/0").contains("graft.region-schema.sql"))
    assert(names(s"$base/1").contains("graft.region-schema.sql"))
    // 3 iterations over 2 slots: last complete = slot 0 (0,1,0)
    assert(graft.streaming.Daemon.lastComplete(base).map(_.getFileName.toString)
      === Some("0"))
  }

  test("--masquerade-filename layers mask sections over --defaults-file") {
    val ini = java.nio.file.Files.createTempFile("graft_masq_", ".cnf")
    java.nio.file.Files.writeString(ini,
      "[`graft`.`customer`]\n`c_name` = constant masked\n")
    val out = java.nio.file.Files.createTempDirectory("graft_cli_mf_").toString
    Main.main(Array("dump", "--source-dir", sf, "-o", out,
      "--tables-list", "customer", "--format", "jsonl",
      "--masquerade-filename", ini.toString))
    val back = spark.read.schema(Tables.t(spark, sf, "customer").schema)
      .json(s"$out/graft.customer")
    import org.apache.spark.sql.functions.col
    assert(back.where(col("c_name") =!= "masked").count() === 0,
      "mask from --masquerade-filename must apply")
  }

  test("--clear empties the output dir; default keeps leftovers") {
    val out = java.nio.file.Files.createTempDirectory("graft_cli_clear_").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out, "stale.sql"), "leftover")
    Main.main(Array("dump", "--source-dir", sf, "-o", out,
      "--tables-list", "region", "--clear"))
    assert(!names(out).contains("stale.sql"))
    val out2 = java.nio.file.Files.createTempDirectory("graft_cli_dirty_").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out2, "stale.sql"), "leftover")
    Main.main(Array("dump", "--source-dir", sf, "-o", out2,
      "--tables-list", "region"))
    assert(names(out2).contains("stale.sql"))
  }

  test("load restores directory-shaped lake dumps (parquet/jsonl)") {
    // parquet/jsonl dumps carry no schema files (the data is self-
    // describing), so the SQL router finds zero sources — loading one
    // used to exit 0 as a silent no-op; the lake fallback restores it,
    // checksum-VERIFIED on every layout: the manifest records the
    // dump-time Spark schema (engine-extension key) and the loader
    // conforms the read-back — partition columns move back in place,
    // JSON-widened types cast back — before checksumming (the
    // reference's loader never restores unverified, myloader.c:684-715)
    val out = java.nio.file.Files.createTempDirectory("graft_cli_lk_").toString
    val restored = java.nio.file.Files.createTempDirectory("graft_cli_lkr_").toString
    val lf = java.nio.file.Files.createTempFile("graft_cli_lk_log", ".txt").toString
    Main.main(Array("dump", "--source-dir", sf, "-o", out,
      "--tables-list", "region,nation", "--format", "parquet"))
    Main.main(Array("load", "-d", out, "--target", restored,
      "--checksum", "fail", "--logfile", lf)) // fail mode: mismatch throws
    for (t <- Seq("region", "nation"))
      assert(spark.read.parquet(s"$restored/graft.$t").count()
        === Tables.t(spark, sf, t).count(), s"lake-restored $t lost rows")
    def verifiedLines(f: String): Seq[String] = {
      val ls = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(f))
      scala.jdk.CollectionConverters.ListHasAsScala(ls).asScala.toSeq
        .filter(_.startsWith("[graft] restored"))
    }
    val plain = verifiedLines(lf)
    assert(plain.size === 2 && plain.forall(_.endsWith("checksum ok")), plain)
    // hive-partitioned parquet: read-back appends the partition column;
    // the recorded schema restores dump order, so it verifies too
    val out2 = java.nio.file.Files.createTempDirectory("graft_cli_lk2_").toString
    val restored2 = java.nio.file.Files.createTempDirectory("graft_cli_lk2r_").toString
    val lf2 = java.nio.file.Files.createTempFile("graft_cli_lk2_log", ".txt").toString
    Main.main(Array("dump", "--source-dir", sf, "-o", out2,
      "--tables-list", "nation", "--format", "parquet",
      "--partition-by", "n_regionkey"))
    Main.main(Array("load", "-d", out2, "--target", restored2,
      "--checksum", "fail", "--logfile", lf2))
    val back = spark.read.parquet(s"$restored2/graft.nation")
    assert(back.count() === Tables.t(spark, sf, "nation").count())
    assert(back.columns.toSeq ===
      Tables.t(spark, sf, "nation").columns.toSeq) // dump-order restored
    val part = verifiedLines(lf2)
    assert(part.size === 1 && part.head.endsWith("checksum ok"), part)
    // jsonl (inference alphabetizes + widens) and PARTITIONED jsonl
    // (no top-level .json files at all — the sniffer must walk into the
    // col=value dirs to pick the json reader, not parquet): both verify
    for (partBy <- Seq(None, Some("n_regionkey"))) {
      val out3 = java.nio.file.Files.createTempDirectory("graft_cli_lk3_").toString
      val restored3 = java.nio.file.Files.createTempDirectory("graft_cli_lk3r_").toString
      val lf3 = java.nio.file.Files.createTempFile("graft_cli_lk3_log", ".txt").toString
      Main.main(Array("dump", "--source-dir", sf, "-o", out3,
        "--tables-list", "nation", "--format", "jsonl") ++
        partBy.toSeq.flatMap(c => Seq("--partition-by", c)))
      Main.main(Array("load", "-d", out3, "--target", restored3,
        "--checksum", "fail", "--logfile", lf3))
      val back3 = spark.read.parquet(s"$restored3/graft.nation")
      assert(back3.count() === Tables.t(spark, sf, "nation").count())
      assert(back3.schema === Tables.t(spark, sf, "nation").schema,
        s"jsonl restore (partitionBy=$partBy) must recover dump types")
      val js = verifiedLines(lf3)
      assert(js.size === 1 && js.head.endsWith("checksum ok"),
        s"partitionBy=$partBy: $js")
    }
  }

  test("orc lake dumps restore and checksum-verify, plain and partitioned") {
    // --format orc: the other columnar lake layout — same self-
    // describing directory contract as parquet (no schema files, data
    // carries types), routed by the .orc leaf-file sniff and verified
    // through the same manifest-conform path; the partitioned variant
    // proves the recorded dump-time schema restores column order after
    // read-back appends the partition column
    def verifiedLines(f: String): Seq[String] = {
      val ls = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(f))
      scala.jdk.CollectionConverters.ListHasAsScala(ls).asScala.toSeq
        .filter(_.startsWith("[graft] restored"))
    }
    for (partBy <- Seq(None, Some("n_regionkey"))) {
      val out = java.nio.file.Files.createTempDirectory("graft_cli_orc_").toString
      val restored = java.nio.file.Files.createTempDirectory("graft_cli_orcr_").toString
      val lf = java.nio.file.Files.createTempFile("graft_cli_orc_log", ".txt").toString
      Main.main(Array("dump", "--source-dir", sf, "-o", out,
        "--tables-list", "nation", "--format", "orc") ++
        partBy.toSeq.flatMap(c => Seq("--partition-by", c)))
      // self-describing: no schema .sql files, only the data dir + metadata
      assert(!new java.io.File(out).listFiles().exists(
        _.getName.endsWith("-schema.sql")), "orc dump must not write DDL")
      Main.main(Array("load", "-d", out, "--target", restored,
        "--checksum", "fail", "--logfile", lf))
      val back = spark.read.parquet(s"$restored/graft.nation")
      assert(back.count() === Tables.t(spark, sf, "nation").count())
      assert(back.columns.toSeq === Tables.t(spark, sf, "nation").columns.toSeq,
        s"orc restore (partitionBy=$partBy) must recover dump column order")
      val lines = verifiedLines(lf)
      assert(lines.size === 1 && lines.head.endsWith("checksum ok"),
        s"partitionBy=$partBy: $lines")
    }
  }

  test("--clear unlinks directory symlinks without following them") {
    // a `latest ->` rotation link (or the daemon's last_dump) inside the
    // output dir must be UNLINKED, never recursed into: File.isDirectory
    // is true for a link to a dir, and deleting through it would destroy
    // data OUTSIDE the dump dir
    val outside = java.nio.file.Files.createTempDirectory("graft_cli_keep_")
    java.nio.file.Files.writeString(outside.resolve("precious.txt"), "keep me")
    val out = java.nio.file.Files.createTempDirectory("graft_cli_sym_").toString
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(out, "latest"), outside)
    Main.main(Array("dump", "--source-dir", sf, "-o", out,
      "--tables-list", "region", "--clear"))
    assert(!names(out).contains("latest"), "link itself must be removed")
    assert(java.nio.file.Files.exists(outside.resolve("precious.txt")),
      "--clear followed a symlink and deleted files outside the dump dir")
  }

  test("--max-threads-per-table caps a table's chunk-file count") {
    val out = java.nio.file.Files.createTempDirectory("graft_cli_mt_").toString
    Main.main(Array("dump", "--source-dir", sf, "-o", out,
      "--tables-list", "orders", "--rows", "100",
      "--max-threads-per-table", "2"))
    val chunks = names(out).count(_.matches("""graft\.orders\.\d{5}\.sql"""))
    assert(chunks <= 2, s"cap of 2 violated: $chunks chunk files")
  }

  test("--logfile mirrors dump log lines to the named file") {
    val out = java.nio.file.Files.createTempDirectory("graft_cli_log_").toString
    val lf = s"$out/.graft.log"
    Main.main(Array("dump", "--source-dir", sf, "-o", out,
      "--tables-list", "region", "-L", lf))
    val logged = scala.io.Source.fromFile(lf).getLines().toSeq
    assert(logged.exists(_.contains("dumped region")), logged.toString)
  }
}

/** `dump --stream` + `load --stream`: the reference's flagship streamed
  * pipe (mydumper_stream.c / myloader stream mode) as CLI glue over
  * LandingStream events + StreamingLoader. */
class CliStreamSpec extends SparkTestBase {
  test("streamed dump -> streamed load restores every announced table") {
    val out = java.nio.file.Files.createTempDirectory("graft_cli_sd_").toString
    val ev = java.nio.file.Files.createTempDirectory("graft_cli_sev_").toString
    val restored = java.nio.file.Files.createTempDirectory("graft_cli_sr_").toString
    Main.main(Array("dump", "--source-dir", sf, "-o", out,
      "--tables-list", "region,nation", "--stream", ev,
      "--statement-size", "4096"))
    // events announced per table: data files, schema, end
    val events = Option(new java.io.File(ev).listFiles).get
      .flatMap(f => scala.io.Source.fromFile(f).getLines()).toSeq
    assert(events.count(_.startsWith("end\t")) === 2, events.toString)
    assert(events.exists(_.startsWith("schema\tgraft.region")))
    assert(events.count(_.startsWith("data\tgraft.nation")) >= 1)

    Main.main(Array("load", "-d", out, "--target", restored, "--stream", ev))
    for (t <- Seq("region", "nation")) {
      val back = spark.read.parquet(s"$restored/graft.$t")
      assert(back.count() === Tables.t(spark, sf, t).count(),
        s"stream-restored $t lost rows")
    }
  }

  test("load --stream --follow consumes events announced AFTER it starts") {
    // the concurrent mode of the reference's dump|load pipe: the loader
    // starts FIRST (empty events dir), the dump announces while the
    // loader's ProcessingTime stream is already running, and the
    // producer's terminal `done` event stops the loader once every
    // announced `end` is in — AvailableNow would latch the empty
    // listing and restore nothing
    val out = java.nio.file.Files.createTempDirectory("graft_cli_fd_").toString
    val ev = java.nio.file.Files.createTempDirectory("graft_cli_fev_").toString + "/ev"
    val restored = java.nio.file.Files.createTempDirectory("graft_cli_fr_").toString
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val loader = Future {
      Main.main(Array("load", "-d", out, "--target", restored,
        "--stream", ev, "--follow"))
    }
    Thread.sleep(1500) // let the follow stream start on the empty dir
    Main.main(Array("dump", "--source-dir", sf, "-o", out,
      "--tables-list", "region,nation", "--stream", ev))
    Await.result(loader, scala.concurrent.duration.Duration(120, "s"))
    for (t <- Seq("region", "nation")) {
      val back = spark.read.parquet(s"$restored/graft.$t")
      assert(back.count() === Tables.t(spark, sf, t).count(),
        s"follow-restored $t lost rows")
    }
  }

  test("streamed pipeline composes with --exec-per-thread filters") {
    val out = java.nio.file.Files.createTempDirectory("graft_cli_sx_").toString
    val ev = java.nio.file.Files.createTempDirectory("graft_cli_sxev_").toString
    val restored = java.nio.file.Files.createTempDirectory("graft_cli_sxr_").toString
    Main.main(Array("dump", "--source-dir", sf, "-o", out,
      "--tables-list", "region", "--stream", ev,
      "--exec-per-thread", "gzip -c",
      "--exec-per-thread-extension", ".sql.gzx"))
    val events = Option(new java.io.File(ev).listFiles).get
      .flatMap(f => scala.io.Source.fromFile(f).getLines()).toSeq
    assert(events.exists(e => e.startsWith("data\tgraft.region") &&
      e.endsWith(".sql.gzx")), s"filtered data files must announce: $events")
    Main.main(Array("load", "-d", out, "--target", restored, "--stream", ev,
      "--exec-per-thread", "gzip -dc",
      "--exec-per-thread-extension", ".sql.gzx"))
    assert(spark.read.parquet(s"$restored/graft.region").count()
      === Tables.t(spark, sf, "region").count())
  }

  test("streamed dump announces surrogate stems for a dotted db and " +
      "carries the db schema-create (specific_32 stream shape)") {
    // dumpTable writes files under the SURROGATE stem for a
    // filename-unsafe db; the announce events must use the same stem or
    // they match zero files and the loader restores nothing. The db's
    // CREATE DATABASE artifact streams FIRST (dbschema event) and lands
    // beside the restored tables.
    val out = java.nio.file.Files.createTempDirectory("graft_cli_dd_").toString
    val ev = java.nio.file.Files.createTempDirectory("graft_cli_ddev_").toString
    val restored = java.nio.file.Files.createTempDirectory("graft_cli_ddr_").toString
    Main.main(Array("dump", "--source-dir", sf, "-o", out,
      "--tables-list", "region,nation", "--stream", ev, "-B", "db.dot"))
    val events = Option(new java.io.File(ev).listFiles).get
      .flatMap(f => scala.io.Source.fromFile(f).getLines()).toSeq
    val dataEvents = events.filter(_.startsWith("data\t"))
    assert(dataEvents.nonEmpty, s"no data events announced: $events")
    assert(dataEvents.forall(_.startsWith("data\tmydumper_")),
      s"dotted db must announce under its surrogate stem: $dataEvents")
    assert(events.exists(e => e.startsWith("dbschema\t") &&
      e.endsWith("-schema-create.sql")), s"db schema-create must stream: $events")
    Main.main(Array("load", "-d", out, "--target", restored, "--stream", ev))
    val stem = dataEvents.head.split("\t")(1).split("\\.")(0)
    for (t <- Seq("region", "nation")) {
      assert(spark.read.parquet(s"$restored/$stem.$t").count()
        === Tables.t(spark, sf, t).count(), s"stream-restored $t lost rows")
    }
    assert(new java.io.File(restored).listFiles
      .exists(_.getName.endsWith("-schema-create.sql")),
      "restored dir must carry the streamed db schema-create")
  }

  test("load --stream --follow refuses a reused events dir") {
    // a stale terminal `done` from a previous run would replay through
    // the fresh checkpoint and stop the loader before the new dump
    // announces anything — follow mode fails loudly instead
    val out = java.nio.file.Files.createTempDirectory("graft_cli_st_").toString
    val ev = java.nio.file.Files.createTempDirectory("graft_cli_stev_").toString
    val restored = java.nio.file.Files.createTempDirectory("graft_cli_str_").toString
    Main.main(Array("dump", "--source-dir", sf, "-o", out,
      "--tables-list", "region", "--stream", ev)) // leaves a done event
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("load", "-d", out, "--target", restored,
        "--stream", ev, "--follow"))
    }
    assert(e.getMessage.contains("FRESH events dir"), e.getMessage)
    // a dir left by a CRASHED run (data/end events but no done) is just
    // as stale: its replay would re-append old tables' data and inflate
    // endsSeen — ANY pre-existing ev_* file must refuse
    val ev2 = java.nio.file.Files.createTempDirectory("graft_cli_stev2_")
    java.nio.file.Files.writeString(ev2.resolve("ev_000001"),
      "data\tgraft.region\t/gone/file.parquet\n")
    val e2 = intercept[IllegalArgumentException] {
      Main.main(Array("load", "-d", out, "--target", restored,
        "--stream", ev2.toString, "--follow"))
    }
    assert(e2.getMessage.contains("FRESH events dir"), e2.getMessage)
  }
}

/** --clear must EMPTY the output dir like the reference's clear_dumpdir —
  * including directory-shaped artifacts (parquet/jsonl table dirs). */
class CliClearSpec extends SparkTestBase {
  test("--clear removes stale directory-shaped artifacts too") {
    val out = java.nio.file.Files.createTempDirectory("graft_cli_clr_").toString
    // stale artifacts from a prior dump: a plain file and a parquet dir
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out, "graft.old.00000.sql"), "stale")
    val staleDir = java.nio.file.Paths.get(out, "graft.old")
    java.nio.file.Files.createDirectories(staleDir)
    java.nio.file.Files.writeString(staleDir.resolve("part-0.parquet"), "x")
    Main.main(Array("dump", "--source-dir", sf, "-o", out,
      "--tables-list", "region", "--clear"))
    val left = Option(new java.io.File(out).listFiles).get.map(_.getName)
    assert(!left.exists(_.contains("old")),
      s"stale artifacts survived --clear: ${left.mkString(",")}")
    assert(left.exists(_.startsWith("graft.region")), left.mkString(","))
  }
}

/** myloader-side routing flags: --source-db admission, --database remap. */
class CliLoadFlagsSpec extends SparkTestBase {
  test("--source-db admits only matching dumps; --database remaps the target db") {
    val out = java.nio.file.Files.createTempDirectory("graft_cli_sdb_").toString
    Main.main(Array("dump", "--source-dir", sf, "-o", out,
      "--tables-list", "region"))
    val restored = java.nio.file.Files.createTempDirectory("graft_cli_sdbr_").toString
    // non-matching source-db restores nothing
    Main.main(Array("load", "-d", out, "--target", restored,
      "--source-db", "otherdb"))
    assert(Option(new java.io.File(restored).listFiles).forall(_.isEmpty))
    // matching source-db + -B remap restores under the NEW db name
    Main.main(Array("load", "-d", out, "--target", restored,
      "--source-db", "graft", "-B", "renamed"))
    val back = spark.read.parquet(s"$restored/renamed.region")
    assert(back.count() === Tables.t(spark, sf, "region").count())
  }
}

/** Concurrent per-table dump: --table-threads must change throughput
  * shape only — identical artifacts and manifest as the sequential path. */
class CliTableThreadsSpec extends SparkTestBase {
  test("--table-threads 3 produces the same artifacts as sequential") {
    def names(dir: String): Set[String] =
      Option(new java.io.File(dir).listFiles).map(_.map(_.getName).toSet)
        .getOrElse(Set.empty)
    val seq = java.nio.file.Files.createTempDirectory("graft_tt_seq_").toString
    val par = java.nio.file.Files.createTempDirectory("graft_tt_par_").toString
    Main.main(Array("dump", "--source-dir", sf, "-o", seq,
      "--tables-list", "region,nation,supplier"))
    Main.main(Array("dump", "--source-dir", sf, "-o", par,
      "--tables-list", "region,nation,supplier", "--table-threads", "3"))
    assert(names(par) === names(seq), "artifact sets must match")
    val mSeq = graft.sources.Manifest.read(seq).get
    val mPar = graft.sources.Manifest.read(par).get
    assert(mPar.tables.map(t => (t.table, t.rows, t.dataChecksum))
      === mSeq.tables.map(t => (t.table, t.rows, t.dataChecksum)),
      "manifest rows/checksums/order must match")
  }
}

/** Parser hardening: unknown switches, explicit-disable booleans
  * (round-10 ADVICE items on parseFlags). */
class CliParseHardeningSpec extends AnyFunSuite {
  import graft.cli.Main

  test("an unknown bare switch never swallows the next option") {
    // a cnf-injected bare key unknown to BoolFlags/Ignored used to
    // consume `--threads` as its value, quietly reverting threads to
    // the default (the reference IGNORES unknown options instead,
    // g_option_context_set_ignore_unknown_options)
    val o = Main.parseFlags(Array("--frobnicate", "--threads", "8"))
    assert(o("threads") === "8")
    assert(o("frobnicate") === "true") // parsed as boolean, not eaten
    // a genuine value that starts with `--` still has the `=` spelling
    assert(Main.parseFlags(Array("--where=--weird"))("where") === "--weird")
    // single-dash values (regex patterns) keep their value semantics
    assert(Main.parseFlags(Array("--regex", "-internal$"))("regex")
      === "-internal$")
  }

  test("boolean flags honor explicit-disable spellings") {
    // --compress=false / cnf compress=0 used to ENABLE compression
    for (off <- Seq("false", "0", "off", "no", "FALSE"))
      assert(!Main.parseFlags(Array(s"--compress=$off")).contains("compress"),
        s"--compress=$off must disable")
    // last-value-wins: CLI disable overrides cnf enable and vice versa
    assert(!Main.parseFlags(Array("--compress", "--compress=false"))
      .contains("compress"))
    assert(Main.parseFlags(Array("--compress=0", "--compress"))("compress")
      === "true")
    // enable spellings stay enabled (the VALUE is preserved — some
    // booleans carry an optional argument, e.g. --compress=ZSTD)
    assert(Main.parseFlags(Array("--compress=1")).contains("compress"))
    assert(Main.parseFlags(Array("--compress=true"))("compress") === "true")
    assert(Main.parseFlags(Array("--compress=ZSTD"))("compress") === "ZSTD")
  }

  test("an unknown switch never swallows a SHORT option either") {
    // reference contract: -T is --tables-list (common_options.c:225);
    // g_option_context_set_ignore_unknown_options leaves the following
    // args untouched, so `--unknownkey -T tbl` must still parse -T
    val o = Main.parseFlags(Array("--unknownkey", "-T", "db.t1,db.t2"))
    assert(o("tables-list") === "db.t1,db.t2")
    assert(o("unknownkey") === "true")
    // but a single-dash NON-option token is still a value
    assert(Main.parseFlags(Array("--where", "-1 < c"))("where") === "-1 < c")
  }

  test("fuzz: cnf-injected orderings x unknown keys x short/long spellings") {
    // the reference ignores unknown options wholesale (common.c:107-118
    // injects cnf keys verbatim; ignore_unknown_options drops the ones
    // no binary declares) — so ANY interleaving of unknown keys between
    // option groups must leave every known option's value intact
    val rnd = new scala.util.Random(1234)
    // (tokens, expectedKey, expectedValue) — short + long + '=' forms
    val known = Seq(
      (Seq("--threads", "8"), "threads", "8"),
      (Seq("-t", "4"), "threads", "4"),
      (Seq("--rows=100"), "rows", "100"),
      (Seq("-T", "db.a,db.b"), "tables-list", "db.a,db.b"),
      (Seq("-x", "^mydb\\."), "regex", "^mydb\\."),
      (Seq("--regex", "-internal$"), "regex", "-internal$"),
      (Seq("--compress"), "compress", "true"),
      (Seq("--no-data"), "no-data", "true"),
      (Seq("-B", "proddb"), "database", "proddb"))
    val unknowns = Seq(Seq("--frobnicate"), Seq("--x-unknown=7"),
      Seq("--cnf-injected-key"), Seq("--weird-opt"))
    for (round <- 0 until 200) {
      // pick a subset with no duplicate target keys (last-wins would
      // otherwise make expectations order-dependent), shuffle groups,
      // sprinkle unknown keys between them
      val picked = rnd.shuffle(known).foldLeft(Vector.empty[(Seq[String], String, String)]) {
        case (acc, g) if !acc.exists(_._2 == g._2) && rnd.nextBoolean() => acc :+ g
        case (acc, _) => acc
      }
      val groups = rnd.shuffle(picked.map(_._1) ++
        rnd.shuffle(unknowns).take(rnd.nextInt(unknowns.size + 1)))
      val args = groups.flatten.toArray
      val o = Main.parseFlags(args)
      for ((_, k, v) <- picked)
        assert(o.get(k) === Some(v),
          s"round $round: $k expected $v in ${args.mkString(" ")} got $o")
    }
  }

  test("a cnf-valued boolean key round-trips its disable through injection") {
    // DefaultsFile group injection emits `--k=v` for valued booleans so
    // `compress=0` in [mydumper] reaches the parser as a disable
    val cnf = java.nio.file.Files.createTempFile("graft_boolcnf_", ".cnf")
    java.nio.file.Files.writeString(cnf,
      "[mydumper]\ncompress=0\nthreads=8\nno-data\n")
    val ini = graft.core.DefaultsFile.read(cnf)
    val injected = ini.groupIgnoreCase("mydumper").get.flatMap {
      case (k, v) if v.isEmpty => Seq(s"--$k")
      case (k, v) => Seq(s"--$k=$v")
    }
    val o = Main.parseFlags(injected.toArray)
    assert(!o.contains("compress") && o("threads") === "8" &&
      o("no-data") === "true", o)
  }
}

/** Lake-target loader flags: --purge-mode matrix and --resume rejection
  * on directory-shaped (parquet/jsonl) dumps; stream-mode manifests
  * record the dump-time schema (round-10 ADVICE items). */
class CliLakeModeSpec extends SparkTestBase {
  import graft.cli.Main

  private def dumpParquet(tables: String): String = {
    val out = java.nio.file.Files.createTempDirectory("graft_lkm_").toString
    Main.main(Array("dump", "--source-dir", sf, "-o", out,
      "--tables-list", tables, "--format", "parquet"))
    out
  }

  test("--purge-mode governs the lake fallback write like the SQL path") {
    val out = dumpParquet("region")
    val target = java.nio.file.Files.createTempDirectory("graft_lkmt_").toString
    val n = Tables.t(spark, sf, "region").count()
    Main.main(Array("load", "-d", out, "--target", target))
    assert(spark.read.parquet(s"$target/graft.region").count() === n)
    // FAIL refuses to replace an existing table (myloader.h:35)
    intercept[Exception] {
      Main.main(Array("load", "-d", out, "--target", target,
        "--purge-mode", "FAIL"))
    }
    // NONE appends instead of overwriting
    Main.main(Array("load", "-d", out, "--target", target,
      "--purge-mode", "NONE"))
    assert(spark.read.parquet(s"$target/graft.region").count() === 2 * n)
    // default / DROP overwrite back to one copy
    Main.main(Array("load", "-d", out, "--target", target,
      "--purge-mode", "DROP"))
    assert(spark.read.parquet(s"$target/graft.region").count() === n)
  }

  test("--resume is refused for lake-format dumps instead of re-restoring") {
    val out = dumpParquet("region")
    // a crashed prior run's resume file (content irrelevant here: lake
    // restores are whole-directory units, no chunk files to list)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out, "resume"), "graft.region.00000.sql\n")
    val target = java.nio.file.Files.createTempDirectory("graft_lkmr_").toString
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("load", "-d", out, "--target", target, "--resume"))
    }
    assert(e.getMessage.contains("lake-format"), e.getMessage)
  }

  test("stream-mode lake dumps record the dump-time schema and verify") {
    // the stream/daemon manifest used to omit sparkSchema, so its
    // partitioned/jsonl restores fell back to unverified (ok=None)
    val out = java.nio.file.Files.createTempDirectory("graft_lkms_").toString
    val ev = java.nio.file.Files.createTempDirectory("graft_lkms_ev_").toString
    Main.main(Array("dump", "--source-dir", sf, "-o", out,
      "--tables-list", "nation", "--format", "jsonl", "--stream", ev))
    val m = graft.sources.Manifest.read(out).get
    assert(m.tables.forall(_.sparkSchema.isDefined),
      "stream manifest must record dump-time schemas")
    val target = java.nio.file.Files.createTempDirectory("graft_lkmst_").toString
    val lf = java.nio.file.Files.createTempFile("graft_lkms_log", ".txt").toString
    Main.main(Array("load", "-d", out, "--target", target,
      "--checksum", "fail", "--logfile", lf))
    val lines = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(lf)))
      .asScala.filter(_.startsWith("[graft] restored"))
    assert(lines.size === 1 && lines.head.endsWith("checksum ok"), lines)
  }
}
