package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's end-to-end conversion as one engine call — the whole
  * program of HighVolumeExcelConverter.main (SURVEY.md §3.1–§3.3):
  *
  *   validate config → resolve sheet → scan → header/projection →
  *   all-string normalization → ordered sink (ndjson | chunked csv | json)
  *
  * The reference's strategy selection (C1), pipelining, batching and memory
  * management dissolve into Catalyst/Tungsten; what remains is the declared
  * dataflow. Row order is preserved end-to-end: the xlsx path holds it by
  * construction (one scan partition per file in name order, streamed
  * sequentially, parts written in partition order — no sort, no shuffle);
  * the parquet path sorts on per-file row positions
  * (IngestOps.withFileRowPos), because its splits are packed by size.
  */
object Convert {

  final case class Result(sheet: String, format: String, outputPath: String, rowsWritten: Long)

  def run(spark: SparkSession, config: EngineConfig): Result =
    if (config.inputFormat.equalsIgnoreCase("xlsx")) runXlsx(spark, config.validate())
    else runParquet(spark, config.validate())

  private def runParquet(spark: SparkSession, config: EngineConfig): Result = {
    // S3: sheet by name (case-insensitive) else by index
    val sheet = config.sheetName match {
      case Some(n) => IngestOps.resolveSheetName(n)
      case None =>
        require(config.sheetIndex < IngestOps.knownTables.length,
          s"sheetIndex ${config.sheetIndex} out of range; available: ${IngestOps.knownTables.mkString(", ")}")
        IngestOps.knownTables(config.sheetIndex)
    }

    // S1 + order invariant: scan with scalable per-file row positions
    val positioned = IngestOps.withFileRowPos(spark, s"${config.inputDir}/$sheet.parquet")

    // T3: skip-before-header (the fixture tables carry their schema, so the
    // "header row" contributes no names here — only the positional skip)
    val afterHeader =
      if (config.headerRow > 0) positioned.filter(col("_pos") >= config.headerRow)
      else positioned

    // T2/T5: universal all-string cell model, order restored for the sink
    val ordered = IngestOps.allString(
      afterHeader.orderBy("_pos").drop("_pos"))

    val out = config.outputPath.getOrElse(s"${config.inputDir}-${sheet}-chunks")
    val rows = writeSink(ordered, out, config)
    Result(sheet, config.format.toLowerCase, out, rows)
  }

  /** The reference's native path: a real .xlsx package in, streamed via the
    * [[graft.sources.XlsxSource]] DataSource V2. Sheet resolution (S3),
    * header naming with index fallback (S4), shared-strings resolve (S5),
    * all-string cells (T5), blank normalization + empty-row drop (T2), and
    * the zip-bomb guards (S7/S8/C3) all run inside the source; what remains
    * here is the positional skip (T3) and the sink.
    *
    * Row order (HighVolumeExcelConverter-Contract-v2.0.1.md:99) holds by
    * construction, with no sort: `XlsxScan.planInputPartitions` returns
    * partition i = file i in `XlsxParsing.listFiles` order, each partition
    * streams its sheet in source order, and every sink emits its parts in
    * partition order. So each scan task renders and writes its own rows. */
  private def runXlsx(spark: SparkSession, config: EngineConfig): Result = {
    val first = graft.sources.XlsxParsing.listFiles(config.inputDir).head
    val zip = new java.util.zip.ZipFile(first)
    val sheet = try graft.sources.XlsxParsing.resolveSheet(
      graft.sources.XlsxParsing.listSheets(zip, config.maxEntrySizeBytes),
      config.sheetName, config.sheetIndex).name
    finally zip.close()
    val df = spark.read.format("xlsx")
      .option("sheetName", sheet)
      .option("maxEntrySizeBytes", config.maxEntrySizeBytes.toString)
      .option("minInflateRatio", config.minInflateRatio.toString)
      .load(config.inputDir)
    // T3: the source consumed the header; headerRow skips that many leading
    // DATA rows per FILE (each workbook carries its own preamble). The
    // in-file index unpacks narrowly from the monotonic id
    // (partitionId·2^33 + index — one partition per file), so the skip is a
    // plain filter: no window, no shuffle.
    val rows =
      if (config.headerRow > 0)
        IngestOps.withRowId(df, "_pos")
          .filter(col("_pos").bitwiseAND(lit((1L << 33) - 1)) >= config.headerRow)
          .drop("_pos")
      else df // already all-string
    val out = config.outputPath.getOrElse(s"${config.inputDir}-${sheet}-chunks")
    Result(sheet, config.format.toLowerCase, out, writeSink(rows, out, config))
  }

  private def writeSink(df: DataFrame, out: String, config: EngineConfig): Long =
    config.format.toLowerCase match {
      case "ndjson" =>
        Sinks.ndjson(df, out, overwrite = config.overwrite, singleFile = true) // K1
        // rowsWritten = line count; the previous read.json paid a full
        // schema-inference parse PLUS a count pass — NDJSON is one row per
        // line by construction, so the text line count is the same number
        df.sparkSession.read.text(out).count()
      case "csv" =>
        Sinks.chunkedCsv(df, out, config.batchSize, orderCol = None,
          overwrite = config.overwrite) // K2 (df already ordered)
        df.sparkSession.read.option("header", "true").csv(out).count()
      case "json" =>
        Sinks.jsonArray(df, out, overwrite = config.overwrite,
          pretty = config.prettyJson) // K3
      case "xlsx" => // outbound Excel: one workbook per partition, streamed
        graft.sources.XlsxSink.write(df,
          out, sheetName = config.sheetName.getOrElse("Sheet1"),
          overwrite = config.overwrite)
    }
}
