package perfbench

import java.io.File
import java.util.zip.ZipFile

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.input_file_name
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.etl.{Convert, EngineConfig, IngestOps, Sinks}
import graft.sources.{XlsxParsing, XlsxSink}

/** Helpers the three workloads share. */
object Common {

  /** Untimed runs of an xlsx workload's timed calls before timing. */
  val WarmUps = 1

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mb(bytes: Long): Double = bytes / 1048576.0

  def sizeOf(f: File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L)

  /** `setup_s`: session start plus one run of `build`, plus `warmUp`.
    * The xlsx workloads warm up with an untimed run of their timed calls:
    * the first conversions in a JVM ran 15-35 % slower than later ones (the
    * JIT still compiling the path), which made the median of a few timed
    * runs bimodal. */
  def setup[A](c: Ctx)(build: => A)(warmUp: => Unit): A = {
    val (inputs, buildS) = seconds(build)
    val (_, warmS) = seconds(warmUp)
    c.report("setup_s") = c.sessionStartS + buildS + warmS
    inputs
  }

  /** The config `graft.Main` derives from a command line. */
  def cli(args: String*): EngineConfig =
    graft.Main.parseArgs(args).fold(e => throw new IllegalArgumentException(e.message), identity)

  /** Repeat `iteration` until the timed seconds reach the run length and
    * at least `minIterations` ran; each returns its timed seconds. */
  def iterate(c: Ctx, minIterations: Int)(iteration: => Double): Seq[Double] = c.trace.span("bench.run") {
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (walls.size < minIterations || walls.sum < c.args.seconds) {
      walls += iteration
      println(f"iteration ${walls.size} ${walls.last}%.3f s")
    }
    walls.toSeq
  }

  /** Listener-derived `spark.*` and `jvm.*` metrics over the timed region,
    * per iteration. */
  def sparkMetrics(c: Ctx, d: Counts, wall: Double, n: Int): Unit = {
    val r = c.report
    r("spark.plan_s") = d.planMs / 1e3 / n
    r("spark.jobs") = d.jobs.toDouble / n
    r("spark.stages") = d.stages.toDouble / n
    r("spark.tasks") = d.tasks.toDouble / n
    r("spark.task_run_s") = d.taskRunMs / 1e3 / n
    r("spark.task_cpu_s") = d.taskCpuNs / 1e9 / n
    r("spark.core_idle_s") = Main.Cores * wall - d.taskRunMs / 1e3 / n
    r("spark.shuffle_write_mb") = mb(d.shuffleWriteBytes) / n
    r("spark.shuffle_read_mb") = mb(d.shuffleReadBytes) / n
    r("spark.spill_mb") = mb(d.spillBytes) / n
    r("jvm.gc_s") = d.gcMs / 1e3 / n
  }

  /** `spark.*` plus the per-conversion counts over `n` iterations of
    * `Convert.run` calls delivering `rows` rows each, and
    * `sources.sheet_passes`: the xlsx records the tasks of one conversion
    * read ÷ `rows` (the xlsx source is the only DataSource V2 scan in a
    * conversion, so its records read are the xlsx records), plus
    * `inferPasses`, the client JVM's reads for schema inference. */
  def convertMetrics(c: Ctx, total: Counts, wall: Double, n: Int, rows: Long, inferPasses: Double): Unit = {
    sparkMetrics(c, total, wall, n)
    c.report("etl.convert_jobs") = total.jobs.toDouble / n
    c.report("etl.convert_stages") = total.stages.toDouble / n
    c.report("etl.convert_tasks") = total.tasks.toDouble / n
    c.report("sources.sheet_passes") = total.dsv2Records.toDouble / n / rows + inferPasses
  }

  /** Trace summary: self time per layer, traced wall and span count. */
  def traceMetrics(c: Ctx, wall: Double): Unit = {
    val r = c.report
    c.trace.selfSecondsByLayer.foreach { case (layer, s) => r(s"self.${layer}_s") = s }
    r("trace.wall_s") = wall
    r("trace.spans") = c.trace.closed.size.toDouble
    r("jvm.heap_after_gc_mb") = mb(c.trace.heapAfterGcBytes)
  }

  /** Single-thread reads of each workbook's selected sheet through the
    * source's own parsing: raw inflate to EOF (sheet and shared-strings
    * parts), the shared-strings table, then a drain of the row reader. */
  def sourceProbes(c: Ctx, files: Seq[File], sheet: String): Unit = {
    val cap = Long.MaxValue
    var inflated = 0L; var inflateS = 0.0; var sstS = 0.0; var sstN = 0L
    var parseS = 0.0; var parsed = 0L
    files.foreach { f =>
      val zip = new ZipFile(f)
      try {
        val target = XlsxParsing.resolveSheet(XlsxParsing.listSheets(zip, cap), Some(sheet), 0).target
        val parts = Seq(target, "xl/sharedStrings.xml").flatMap(n => Option(zip.getEntry(n)))
        val (n, t) = seconds(c.trace.span("sources.inflate") {
          val buf = new Array[Byte](1 << 16)
          parts.map { e =>
            val in = zip.getInputStream(e)
            try { var total = 0L; var k = in.read(buf); while (k >= 0) { total += k; k = in.read(buf) }; total }
            finally in.close()
          }.sum
        })
        inflated += n; inflateS += t
        val (shared, t2) = seconds(c.trace.span("sources.shared_strings")(XlsxParsing.sharedStrings(zip, cap)))
        sstS += t2; sstN += shared.length
        val (rows, t3) = seconds(c.trace.span("sources.parse") {
          val rd = new XlsxParsing.SheetRows(zip, zip.getEntry(target), shared, cap)
          try { var k = 0L; while (rd.nextRow() != null) k += 1; k } finally rd.close()
        })
        parseS += t3; parsed += rows
      } finally zip.close()
    }
    val r = c.report
    r("sources.inflate_s") = inflateS; r("sources.inflate_mb") = mb(inflated)
    r("sources.shared_strings_s") = sstS; r("sources.shared_strings_n") = sstN.toDouble
    r("sources.parse_s") = parseS; r("sources.parse_rows") = parsed.toDouble
  }

  /** Bytes this process has read through `read` system calls so far, or
    * None where `/proc/self/io` is missing. */
  def bytesRead(): Option[Long] = Try {
    val src = scala.io.Source.fromFile("/proc/self/io")
    try src.getLines().find(_.startsWith("rchar:")).get.drop(6).trim.toLong finally src.close()
  }.toOption

  /** Schema inference (the same `load` as `Convert.run`; it runs in the
    * client JVM before any task), then a full scan into the `noop` sink.
    * Returns the loaded frame and the inference's passes over the input:
    * bytes the process read during the `load` ÷ `inputBytes`, the size of
    * the `.xlsx` files (no Spark job runs meanwhile, so the reads are the
    * client JVM's). */
  def scanProbes(c: Ctx, path: String, sheet: String, inputBytes: Long): (DataFrame, Double) = {
    val read0 = bytesRead()
    val (df, inferS) = seconds(c.trace.span("sources.infer")(
      c.spark.read.format("xlsx").option("sheetName", sheet).load(path)))
    val inferPasses = (for (a <- read0; b <- bytesRead()) yield (b - a).toDouble / inputBytes).getOrElse {
      System.err.println("perfbench: /proc/self/io unreadable; sources.sheet_passes leaves out inference")
      0.0
    }
    val before = c.trace.snapshot()
    val (_, scanS) = seconds(c.trace.span("sources.scan")(
      df.write.format("noop").mode("overwrite").save()))
    c.report("sources.infer_s") = inferS
    c.report("sources.scan_s") = scanS
    c.report("sources.scan_tasks") = (c.trace.snapshot() - before).tasks.toDouble
    (df, inferPasses)
  }

  /** Counts over one timed call. */
  def counted[A](c: Ctx)(body: => A): (A, Counts) = {
    val before = c.trace.snapshot()
    val a = body
    (a, c.trace.snapshot() - before)
  }

  def allStringSchema(names: Seq[String]): StructType =
    StructType(names.map(StructField(_, StringType)))
}

import Common._

/** One seeded catalog workbook → NDJSON through `Convert.run`, configured
  * exactly as `graft-convert <file> --input-format xlsx --sheet-name catalog
  * --format ndjson --output … --overwrite`. */
object XlsxOneBig {
  val Rows = 80000
  /** The conversion is mostly single-threaded (schema inference, one scan
    * task), so an iteration varies ±15 % with the machine; five keep the
    * run's median steady. */
  val MinIterations = 5

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val wb = new File(c.workDir("in"), "catalog.xlsx")
    val out = c.workDir("catalog.ndjson").getAbsolutePath
    val cfg = cli(wb.getAbsolutePath, "--input-format", "xlsx", "--sheet-name", WorkbookGen.Sheet,
      "--format", "ndjson", "--output", out, "--overwrite")
    val exp = setup(c)(WorkbookGen.write(wb, c.args.seed, Rows)) {
      (1 to WarmUps).foreach(_ => Convert.run(spark, cfg))
    }
    var total = Counts()
    val walls = iterate(c, MinIterations) {
      val ((res, wall), d) = counted(c)(seconds(c.trace.span("etl.convert")(Try(Convert.run(spark, cfg)))))
      total = total + d
      val ok = res.toOption.exists(_.rowsWritten == exp.rows) && {
        val back = spark.read.schema(allStringSchema(WorkbookGen.Header)).json(out)
        Digest.orderedByFile(back, WorkbookGen.Header) == ((exp.rows, exp.digest))
      }
      c.report.op(ok, s"xlsx_one_big conversion: $res")
      wall
    }
    val wall = median(walls)
    val n = walls.size
    val r = c.report
    r("wall_s") = wall
    r("query_p50_s") = wall
    r("rows_per_s") = exp.rows / wall
    r("mb_per_s") = mb(exp.bytes) / wall
    if (c.trace.enabled) {
      sourceProbes(c, Seq(wb), WorkbookGen.Sheet)
      val (df, inferPasses) = scanProbes(c, wb.getAbsolutePath, WorkbookGen.Sheet, exp.bytes)
      convertMetrics(c, total, wall, n, exp.rows, inferPasses)
      val cached = df.cache()
      cached.count()
      val sinkOut = c.workDir("sink.ndjson").getAbsolutePath
      r("etl.ndjson_sink_s") = seconds(c.trace.span("etl.ndjson_sink")(
        Sinks.ndjson(cached, sinkOut, overwrite = true, singleFile = true)))._2
      cached.unpersist(blocking = true)
      r("etl.count_back_s") = seconds(c.trace.span("etl.count_back")(spark.read.text(out).count()))._2
      traceMetrics(c, wall)
    }
  }
}

/** The lineitem table → one workbook per partition through `Convert.run`
  * (`--format xlsx`, so `XlsxSink`), then those workbooks → chunked CSV
  * (`--input-format xlsx --format csv --batch-size 50000`). The table is
  * built from the fixed seed 42, whatever the run's seed. */
object XlsxExportImport {
  val Scale = 0.025
  val BatchSize = 50000
  val MinIterations = 3

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val inDir = c.workDir("tables").getAbsolutePath
    val lineitem = s"$inDir/lineitem.parquet"
    val xlsxDir = c.workDir("lineitem_xlsx").getAbsolutePath
    val csvDir = c.workDir("lineitem_csv").getAbsolutePath
    val exportCfg = cli(inDir, "--sheet-name", "lineitem", "--format", "xlsx", "--output", xlsxDir, "--overwrite")
    val imp = cli(xlsxDir, "--input-format", "xlsx", "--sheet-name", "lineitem", "--format", "csv",
      "--batch-size", BatchSize.toString, "--output", csvDir, "--overwrite")
    setup(c)(Fixtures.table(spark, "lineitem", Scale, CorpusOps.TableSeed)
      .write.mode("overwrite").parquet(lineitem)) {
      (1 to WarmUps).foreach { _ => Convert.run(spark, exportCfg); Convert.run(spark, imp) }
    }
    val source = IngestOps.allString(spark.read.parquet(lineitem))
    val names = source.columns.toSeq
    val expected = Digest.orderedByFile(source, names)
    var total = Counts(); var xlsxBytes = 0L
    val lats = scala.collection.mutable.ArrayBuffer.empty[Double]
    val walls = iterate(c, MinIterations) {
      val ((ex, exS), d1) = counted(c)(seconds(c.trace.span("etl.convert")(Try(Convert.run(spark, exportCfg)))))
      xlsxBytes = sizeOf(new File(xlsxDir))
      val ((im, imS), d2) = counted(c)(seconds(c.trace.span("etl.convert")(Try(Convert.run(spark, imp)))))
      total = total + d1 + d2
      lats += exS; lats += imS
      c.report.op(ex.toOption.exists(_.rowsWritten == expected._1), s"xlsx export: $ex")
      val back = spark.read.option("header", "true").csv(csvDir)
      val ok = im.toOption.exists(_.rowsWritten == expected._1) && back.columns.toSeq == names && {
        val perFile = back.groupBy(input_file_name()).count().collect().map(_.getLong(1))
        perFile.forall(_ <= BatchSize) && perFile.sum == expected._1
      } && Digest.orderedByFile(back, names) == expected
      c.report.op(ok, s"xlsx import to csv: $im")
      exS + imS
    }
    val wall = median(walls)
    val n = walls.size
    val r = c.report
    r("wall_s") = wall
    r("query_p50_s") = median(lats.toSeq)
    r("rows_per_s") = expected._1 / wall
    r("mb_per_s") = mb(xlsxBytes) / wall
    if (c.trace.enabled) {
      val files = new File(xlsxDir).listFiles().filter(_.getName.endsWith(".xlsx")).sortBy(_.getName).toSeq
      sourceProbes(c, files, "lineitem")
      val (df, inferPasses) = scanProbes(c, xlsxDir, "lineitem", files.map(_.length).sum)
      convertMetrics(c, total, wall, n, expected._1, inferPasses)
      val cached = df.cache()
      cached.count()
      val sinkCsv = c.workDir("sink_csv").getAbsolutePath
      r("etl.csv_sink_s") = seconds(c.trace.span("etl.csv_sink")(
        Sinks.chunkedCsv(cached, sinkCsv, BatchSize, overwrite = true)))._2
      r("etl.csv_files") = new File(sinkCsv).listFiles().count(_.getName.endsWith(".csv")).toDouble
      cached.unpersist(blocking = true)
      r("etl.count_back_s") = seconds(c.trace.span("etl.count_back")(
        spark.read.option("header", "true").csv(csvDir).count()))._2
      val rows = source.cache()
      rows.count()
      val sinkXlsx = c.workDir("sink_xlsx")
      r("sources.xlsx_write_s") = seconds(c.trace.span("sources.xlsx_write")(
        XlsxSink.write(rows, sinkXlsx.getAbsolutePath, "lineitem", overwrite = true)))._2
      r("sources.xlsx_write_mb") = mb(sizeOf(sinkXlsx))
      rows.unpersist(blocking = true)
      traceMetrics(c, wall)
    }
  }
}
