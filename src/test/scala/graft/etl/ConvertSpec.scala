package graft.etl

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{QueryExecution, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.{sf0001, spark}

class ConvertSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private def cfg(fmt: String, out: String) = EngineConfig(
    inputDir = sf0001, sheetName = Some("ORDERS"), format = fmt,
    outputPath = Some(out), overwrite = true, batchSize = 500)

  test("end-to-end ndjson conversion: all rows written, all-string cells") {
    val out = Files.createTempDirectory("cv").toString + "/nd"
    val r = Convert.run(spark, cfg("ndjson", out))
    assert(r.sheet == "orders" && r.rowsWritten == 1500)
    val back = spark.read.json(out)
    assert(back.count() == 1500)
    assert(back.schema.fields.forall(_.dataType == org.apache.spark.sql.types.StringType))
  }

  test("end-to-end chunked csv conversion honors batchSize") {
    val out = Files.createTempDirectory("cv").toString + "/csv"
    val r = Convert.run(spark, cfg("csv", out))
    assert(r.rowsWritten == 1500)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val dataLines = scala.io.Source.fromFile(f).getLines().size - 1 // minus header
      assert(dataLines <= 500)
    }
  }

  test("end-to-end json-array conversion writes one well-formed document") {
    val out = Files.createTempDirectory("cv").toString + "/arr.json"
    val r = Convert.run(spark, cfg("json", out))
    assert(r.rowsWritten == 1500)
    val txt = Files.readString(java.nio.file.Paths.get(out))
    assert(txt.startsWith("[{") && txt.endsWith("}]"))
  }

  test("headerRow skips leading rows positionally") {
    val out = Files.createTempDirectory("cv").toString + "/nd2"
    val r = Convert.run(spark, cfg("ndjson", out).copy(headerRow = 100))
    assert(r.rowsWritten == 1400)
  }

  test("sheet by index when no name given") {
    val out = Files.createTempDirectory("cv").toString + "/nd3"
    val r = Convert.run(spark, cfg("ndjson", out).copy(sheetName = None, sheetIndex = 0))
    assert(r.sheet == "region" && r.rowsWritten == 5)
  }

  test("end-to-end from a real .xlsx package: scan → header → ndjson sink") {
    val dir = Files.createTempDirectory("cvx").toString
    graft.sources.XlsxTestFiles.writeDense(s"$dir/book.xlsx", Seq(
      ("Inventory", Seq(
        Seq("sku", "name", "qty"),
        Seq("s1", "first item", "10"),
        Seq("s2", "second item", "20"),
        Seq("s3", "third item", "30")))))
    val out = s"$dir/nd"
    val r = Convert.run(spark, EngineConfig(
      inputDir = s"$dir/book.xlsx", inputFormat = "xlsx",
      sheetName = Some("INVENTORY"), // case-insensitive resolve (S3)
      format = "ndjson", outputPath = Some(out), overwrite = true))
    assert(r.sheet == "Inventory" && r.rowsWritten == 3)
    val back = spark.read.json(out).orderBy("sku").collect()
    assert(back.map(_.getAs[String]("name")).toSeq ==
      Seq("first item", "second item", "third item"))
  }

  test("xlsx headerRow preamble skip and chunked csv sink compose") {
    val dir = Files.createTempDirectory("cvx2").toString
    graft.sources.XlsxTestFiles.writeDense(s"$dir/book.xlsx", Seq(
      ("S", Seq(
        Seq("col_a", "col_b"),
        Seq("PREAMBLE", "ignored"), // headerRow=1 drops this data row
        Seq("a1", "b1"),
        Seq("a2", "b2")))))
    val out = s"$dir/csv"
    val r = Convert.run(spark, EngineConfig(
      inputDir = s"$dir/book.xlsx", inputFormat = "xlsx", headerRow = 1,
      format = "csv", outputPath = Some(out), overwrite = true, batchSize = 1))
    assert(r.rowsWritten == 2)
    val back = spark.read.option("header", "true").csv(out).orderBy("col_a").collect()
    assert(back.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("a1", "b1"), ("a2", "b2")))
  }

  // Three workbooks created in an order (c, a, b) that differs from their
  // name order (a, b, c); source order is name order, then row order.
  private def threeBooks(rows: String => Seq[Seq[String]]): String = {
    val dir = Files.createTempDirectory("cvo").toString
    Files.createDirectories(Paths.get(s"$dir/in"))
    Seq("c", "a", "b").foreach(n => graft.sources.XlsxTestFiles.writeDense(
      s"$dir/in/$n.xlsx", Seq(("S", Seq("id", "v") +: rows(n)))))
    dir
  }
  private val dataRows = Map("a" -> 3, "b" -> 4, "c" -> 2)
  private def plainRows(n: String) = (1 to dataRows(n)).map(i => Seq(s"$n$i", s"v$n$i"))
  private val sourceOrder = Seq("a", "b", "c").flatMap(n => plainRows(n).map(_.head))

  private def xlsxCfg(dir: String, fmt: String, out: String) = EngineConfig(
    inputDir = s"$dir/in", inputFormat = "xlsx", format = fmt,
    outputPath = Some(out), overwrite = true)

  /** Lines of the part files under `dir`, in partition order. */
  private def partLines(dir: String): Seq[Seq[String]] =
    Sinks.partFiles(Paths.get(dir)).map(p => Files.readAllLines(p).asScala.toSeq)

  private val IdField = """"id":"([^"]*)"""".r
  private def ids(json: String): Seq[String] =
    IdField.findAllMatchIn(json).map(_.group(1)).toSeq

  test("xlsx → ndjson keeps source order across files (name order, not creation order)") {
    val dir = threeBooks(plainRows)
    val out = s"$dir/nd"
    val r = Convert.run(spark, xlsxCfg(dir, "ndjson", out))
    assert(r.rowsWritten == sourceOrder.size)
    val lines = partLines(out)
    assert(lines.size == 1) // singleFile
    assert(lines.head == Seq("a", "b", "c").flatMap(n =>
      plainRows(n).map { case Seq(id, v) => s"""{"id":"$id","v":"$v"}""" }))
  }

  test("xlsx → chunked csv keeps source order when batchSize is smaller than one file") {
    val dir = threeBooks(plainRows)
    val out = s"$dir/csv"
    val r = Convert.run(spark, xlsxCfg(dir, "csv", out).copy(batchSize = 2))
    assert(r.rowsWritten == sourceOrder.size)
    val chunks = partLines(out)
    chunks.foreach { c => assert(c.head == "id,v" && c.size - 1 <= 2, c) }
    assert(chunks.flatMap(_.tail).map(_.split(",")(0)) == sourceOrder)
  }

  test("xlsx → json array keeps source order across files") {
    val dir = threeBooks(plainRows)
    val out = s"$dir/arr.json"
    val r = Convert.run(spark, xlsxCfg(dir, "json", out))
    assert(r.rowsWritten == sourceOrder.size)
    val txt = Files.readString(Paths.get(out))
    assert(txt.startsWith("[{") && txt.endsWith("}]"))
    assert(ids(txt) == sourceOrder)
  }

  test("xlsx headerRow = 1 drops each file's own preamble row, order kept") {
    val dir = threeBooks(n => Seq("PRE", s"preamble of $n") +: plainRows(n))
    val out = s"$dir/nd"
    val r = Convert.run(spark, xlsxCfg(dir, "ndjson", out).copy(headerRow = 1))
    assert(r.rowsWritten == sourceOrder.size)
    assert(ids(partLines(out).flatten.mkString("\n")) == sourceOrder)
  }

  test("xlsx with a header row and no data rows writes an empty output") {
    val dir = Files.createTempDirectory("cve").toString
    Files.createDirectories(Paths.get(s"$dir/in"))
    graft.sources.XlsxTestFiles.writeDense(s"$dir/in/empty.xlsx",
      Seq(("S", Seq(Seq("id", "v")))))
    val nd = Convert.run(spark, xlsxCfg(dir, "ndjson", s"$dir/nd"))
    assert(nd.rowsWritten == 0 && Files.isDirectory(Paths.get(s"$dir/nd")))
    assert(partLines(s"$dir/nd").flatten.isEmpty)
    val arr = Convert.run(spark, xlsxCfg(dir, "json", s"$dir/arr.json"))
    assert(arr.rowsWritten == 0 && Files.readString(Paths.get(s"$dir/arr.json")) == "[]")
  }

  test("xlsx conversion writes with no shuffle and no sort in its executed plan") {
    val dir = threeBooks(plainRows)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def writes = plans.asScala.toSeq.map(_.executedPlan)
      .filter(p => collect(p) { case w: DataWritingCommandExec => w }.nonEmpty)
    spark.listenerManager.register(listener)
    try {
      Seq("ndjson" -> s"$dir/nd", "csv" -> s"$dir/csv", "json" -> s"$dir/arr.json")
        .foreach { case (fmt, out) => Convert.run(spark, xlsxCfg(dir, fmt, out)) }
      // the listener bus delivers asynchronously; wait for the three writes
      val deadline = System.currentTimeMillis() + 10000
      while (writes.size < 3 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.size == 3)
    writes.foreach { p =>
      assert(collect(p) { case e: ShuffleExchangeExec => e }.isEmpty, p)
      assert(collect(p) { case s: SortExec => s }.isEmpty, p)
    }
  }
}
