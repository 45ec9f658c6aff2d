package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> [--launch-ms <epoch ms>] [--commit <id>]
  *
  * Prints the environment header, every metric by name and unit, and as
  * its last line the JSON result `{"correct", "attempted", "failed",
  * "metrics"}`: end-to-end metrics with `--trace 0`, per-layer metrics with
  * `--trace 1`. `perfbench/run.py` builds the classes and starts this. */
object Main {

  val Workloads: Seq[String] = Seq("xlsx_one_big", "xlsx_export_import", "corpus_ops")

  /** End-to-end metrics (reported on every workload) and their units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "rows_per_s" -> "1/s", "mb_per_s" -> "MB/s",
    "query_p50_s" -> "s")

  /** Per-layer metrics (reported on every workload; 0 where the workload
    * does not exercise the layer) and their units. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.inflate_s" -> "s", "sources.inflate_mb" -> "MB",
    "sources.shared_strings_s" -> "s", "sources.shared_strings_n" -> "count",
    "sources.parse_s" -> "s", "sources.parse_rows" -> "count",
    "sources.infer_s" -> "s", "sources.scan_s" -> "s", "sources.scan_tasks" -> "count",
    "sources.sheet_passes" -> "ratio",
    "sources.xlsx_write_s" -> "s", "sources.xlsx_write_mb" -> "MB",
    "etl.convert_jobs" -> "count", "etl.convert_stages" -> "count", "etl.convert_tasks" -> "count",
    "etl.ndjson_sink_s" -> "s", "etl.csv_sink_s" -> "s", "etl.csv_files" -> "count",
    "etl.count_back_s" -> "s", "etl.stage_prime_s" -> "s",
    "ext.construct_s" -> "s", "ext.construct_jobs" -> "count", "ext.action_s" -> "s",
    "ext.dedup_s" -> "s", "ext.similarity_s" -> "s", "ext.text_s" -> "s", "ext.graph_s" -> "s",
    "ext.analytics_s" -> "s", "ext.pipelines_s" -> "s", "ext.relational_s" -> "s",
    "streaming.prime_s" -> "s",
    "spark.plan_s" -> "s", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.core_idle_s" -> "s", "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "jvm.gc_s" -> "s", "jvm.heap_after_gc_mb" -> "MB",
    "self.bench_s" -> "s", "self.etl_s" -> "s", "self.ext_s" -> "s", "self.streaming_s" -> "s",
    "self.sources_s" -> "s", "self.spark_s" -> "s",
    "trace.wall_s" -> "s", "trace.spans" -> "count")

  /** Local cores the engine runs on; also the shuffle partition count. */
  val Cores = 4

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, launchMs: Option[Long], commit: String)

  def parse(args: Seq[String]): Either[String, Args] = {
    val kv = args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.get(k).toRight(s"missing --$k")
    for {
      w <- need("workload").filterOrElse(Workloads.contains,
        s"unknown workload; expected one of ${Workloads.mkString(", ")}")
      seed <- need("seed").flatMap(s => s.toLongOption.toRight(s"bad --seed $s"))
      secs <- need("seconds").flatMap(s => s.toIntOption.filter(_ > 0).toRight(s"bad --seconds $s"))
      tr <- need("trace").filterOrElse(Set("0", "1"), "--trace takes 0 or 1")
      work <- need("work")
    } yield Args(w, seed, secs, tr == "1", new File(work), kv.get("launch-ms").flatMap(_.toLongOption),
      kv.getOrElse("commit", "unknown"))
  }

  /** The session `graft.Main` builds for a conversion (its defaults at
    * `local[4]`). */
  def convertSession(work: File): SparkSession.Builder =
    SparkSession.builder().master(s"local[$Cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)

  /** The session `graft.Verify` builds for the query corpus. */
  def verifySession(work: File): SparkSession.Builder =
    graft.etl.ScratchDirs.withLocalDir(convertSession(work)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.graft.rangejoin.bucketUs", "600000000")
      .config("spark.sql.files.openCostInBytes", "16384"))

  def main(argv: Array[String]): Unit = parse(argv.toSeq) match {
    case Left(err) =>
      System.err.println(s"perfbench: $err")
      sys.exit(2)
    case Right(a) => sys.exit(run(a))
  }

  def run(a: Args): Int = {
    val env0 = Env.sample()
    val runId = java.util.UUID.randomUUID.toString
    a.work.mkdirs()
    val spark = (if (a.workload == "corpus_ops") verifySession(a.work) else convertSession(a.work))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(spark, a.trace)
    val report = new Report
    val sessionReady = System.currentTimeMillis()
    // JVM launch to session ready; the workload adds its input set-up
    val startS = (sessionReady - a.launchMs.getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)) / 1e3
    val ctx = Ctx(spark, trace, report, a, startS)
    val code =
      try {
        a.workload match {
          case "xlsx_one_big" => XlsxOneBig.run(ctx)
          case "xlsx_export_import" => XlsxExportImport.run(ctx)
          case "corpus_ops" => CorpusOps.run(ctx)
        }
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ${a.workload} aborted: $e")
          e.printStackTrace()
          1
      }
    val env1 = Env.sample()
    val header = Env.header(a, env0, env1) + ("run_id" -> runId)
    println("env " + header.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    if (a.trace) {
      val f = new File(a.work.getParentFile.getParentFile, s"traces/${a.workload}-seed${a.seed}.json")
      trace.writeJson(f, header)
      println(s"trace ${f.getPath}")
    }
    trace.close()
    spark.stop()
    if (code != 0) return code
    val wanted = if (a.trace) PerLayer else EndToEnd
    report.print(wanted)
    println(report.json(wanted))
    0
  }
}

final case class Ctx(spark: SparkSession, trace: Trace, report: Report, args: Main.Args,
    sessionStartS: Double) {
  def workDir(name: String): File = new File(args.work, name)
}

/** Metric values and the operation tally of one run. */
final class Report {
  private val values = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L

  def update(name: String, v: Double): Unit = values(name) = v
  def get(name: String): Double = values.getOrElse(name, 0.0)

  /** Count one operation; `ok = false` when it threw or failed its check. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"perfbench: FAILED $what") }
  }

  def print(wanted: Seq[(String, String)]): Unit = {
    println(f"ops_failed=$failed ops_total=$attempted")
    wanted.foreach { case (n, u) => println(f"metric $n%-28s ${get(n)}%16.6f $u") }
  }

  def json(wanted: Seq[(String, String)]): String = {
    val ms = wanted.map { case (n, u) =>
      val v = get(n)
      val num = if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }
    s"""{"correct": ${failed == 0}, "attempted": ${math.max(attempted, 1L)}, "failed": ${
      if (attempted == 0) 1 else failed}, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Run-environment header: enough to tell a noisy run from a regression. */
object Env {
  final case class Sample(load1: String, steal: Long, total: Long, cpuSome10: String)

  def sample(): Sample = {
    val load = scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ").head)
      .getOrElse("na")
    val cpu = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
    }.getOrElse(Array.empty[Long])
    // share of time some runnable task waited for a CPU (PSI), last 10 s
    val some = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/pressure/cpu")
      try src.getLines().next().split(" ").find(_.startsWith("avg10=")).get.drop(6) finally src.close()
    }.getOrElse("na")
    Sample(load, if (cpu.length > 7) cpu(7) else 0L, cpu.take(8).sum, some)
  }

  def header(a: Main.Args, s0: Sample, s1: Sample): Map[String, String] = {
    val dt = s1.total - s0.total
    Map(
      "workload" -> a.workload, "seed" -> a.seed.toString, "trace" -> (if (a.trace) "1" else "0"),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "cores_used" -> Main.Cores.toString,
      "heap_cap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "load1_start" -> s0.load1, "load1_end" -> s1.load1,
      "cpu_wait_pct_start" -> s0.cpuSome10, "cpu_wait_pct_end" -> s1.cpuSome10,
      "steal_pct_start" -> f"${if (s0.total > 0) 100.0 * s0.steal / s0.total else 0.0}%.2f",
      "steal_pct_run" -> f"${if (dt > 0) 100.0 * (s1.steal - s0.steal) / dt else 0.0}%.2f",
      "commit" -> a.commit)
  }
}
