package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.etl.{CacheRegistry, StageStore}

import Common._

/** One cold pass, in one process, over a fixed list of
  * `graft.SparkEntry.queries` rows. Each row is built, then run once by an
  * action that materializes every output column into a digest. Every memo
  * the engine fills (StageStore, the stream replay memo, CacheRegistry)
  * fills inside the timed pass. The rows, their order and the tables are
  * fixed, whatever the seed: each row's digest is checked against
  * `expected/corpus_ops.tsv`, and each memo is built by the same row in
  * every run (a seeded order moved StageStore builds from row to row and
  * with them the median row latency). */
object CorpusOps {

  /** Fixture scale (lineitem = 6 M × Scale rows) and table seed. */
  val Scale = 0.02
  val TableSeed = 42L

  /** Each row's row count and digest, as the `row` lines of a run print
    * them; read relative to the checkout root. */
  val Expected = new File("perfbench/expected/corpus_ops.tsv")

  /** Row → the module whose time it counts toward. */
  val Rows: Seq[(String, String)] = Seq(
    // construction-heavy
    "graph_lpa_communities" -> "graph", "events_funnel_latency" -> "analytics",
    "text_bpe_encode" -> "text", "quality_ref_integrity" -> "analytics",
    // StageStore-backed
    "pipeline_incremental_neardup" -> "pipelines", "dedup_containment" -> "dedup",
    // streaming cold prime
    "events_stream_join_inner" -> "streaming", "docs_stream_neardup_lsh" -> "streaming",
    // execute-heavy
    "dedup_simhash_pairs" -> "dedup", "sim_ann_lsh" -> "similarity",
    "orders_brand_rules" -> "analytics", "dedup_edit_distance" -> "dedup",
    "search_bm25_topk" -> "text", "sample_dsir" -> "pipelines",
    "q21_waiting_supplier" -> "relational",
    // light, overhead-bound
    "dedup_minhash" -> "dedup", "text_quality" -> "text", "sketch_hll_distinct" -> "analytics",
    "q1_pricing_summary" -> "relational", "q6_filtered_agg" -> "relational",
    "events_sessionize" -> "relational", "window_rank_orders" -> "relational",
    "text_chunks" -> "text")

  val Modules: Seq[String] =
    Seq("dedup", "similarity", "text", "graph", "analytics", "pipelines", "relational")

  final case class Outcome(name: String, module: String, constructS: Double, actionS: Double,
      constructJobs: Long, digest: Try[(Long, Long)])

  def readExpected(f: File): Map[String, (Long, Long)] =
    Files.readAllLines(f.toPath).asScala.filterNot(l => l.isBlank || l.startsWith("#")).map { l =>
      val Array(name, rows, digest) = l.split("\t")
      name -> ((rows.toLong, java.lang.Long.parseUnsignedLong(digest, 16)))
    }.toMap

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val dir = c.workDir("tables").getAbsolutePath
    // no warm-up: the pass is cold by definition
    setup(c)(Fixtures.write(spark, dir, Scale, TableSeed))(())
    val inputMb = mb(sizeOf(new File(dir)))
    val queries = graft.SparkEntry.queries
    val prime0 = StageStore.primeSeconds
    val start = c.trace.snapshot()
    val (outcomes, wall) = seconds(c.trace.span("bench.run")(Rows.map { case (name, module) =>
      val layer = if (module == "streaming") "streaming" else s"ext.$module"
      val jobs0 = c.trace.snapshot().jobs
      val (df, constructS) = seconds(Try(c.trace.span(s"$layer.construct")(queries(name)(spark, dir))))
      val constructJobs = c.trace.snapshot().jobs - jobs0
      val (digest, actionS) = seconds(df.flatMap(d => Try(c.trace.span(s"$layer.action") {
        val r = Digest.unordered(d)
        c.trace.addPlanning(d.queryExecution)
        r
      })))
      CacheRegistry.releaseAll()
      Outcome(name, module, constructS, actionS, constructJobs, digest)
    }))
    val counts = c.trace.snapshot() - start
    val expected = readExpected(Expected)
    outcomes.foreach { o =>
      c.report.op(expected.get(o.name).exists(e => o.digest.toOption.contains(e)),
        s"${o.name}: ${o.digest.map { case (n, d) => f"rows=$n digest=$d%016x" }} " +
          s"expected ${expected.get(o.name).map { case (n, d) => f"rows=$n digest=$d%016x" }}")
      val (rows, digest) = o.digest.map { case (n, d) => (n, f"$d%016x") }.getOrElse((-1L, "-"))
      println(f"row ${o.name}%-30s construct ${o.constructS}%8.3f s  action ${o.actionS}%8.3f s  " +
        f"jobs ${o.constructJobs}%3d  rows $rows  digest $digest")
    }
    val r = c.report
    r("wall_s") = wall
    // the middle half of the rows, averaged: the row latencies cluster, and
    // the single median row jumped between clusters from run to run
    // (IQR/median up to 0.33 over ten seeds)
    val lat = outcomes.map(o => o.constructS + o.actionS).sorted
    val mid = lat.slice(lat.size / 4, lat.size - lat.size / 4)
    r("query_p50_s") = mid.sum / mid.size
    r("rows_per_s") = outcomes.flatMap(_.digest.toOption.map(_._1)).sum / wall
    r("mb_per_s") = inputMb / wall
    if (c.trace.enabled) {
      sparkMetrics(c, counts, wall, 1)
      r("etl.stage_prime_s") = StageStore.primeSeconds - prime0
      r("ext.construct_s") = outcomes.map(_.constructS).sum
      r("ext.action_s") = outcomes.map(_.actionS).sum
      r("ext.construct_jobs") = outcomes.map(_.constructJobs).sum.toDouble
      Modules.foreach(m => r(s"ext.${m}_s") =
        outcomes.filter(_.module == m).map(o => o.constructS + o.actionS).sum)
      r("streaming.prime_s") =
        outcomes.filter(_.module == "streaming").map(o => o.constructS + o.actionS).sum
      traceMetrics(c, wall)
    }
  }
}
