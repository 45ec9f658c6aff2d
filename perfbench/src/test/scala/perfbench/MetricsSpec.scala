package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  private val Name = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
  private val Unit = "[A-Za-z0-9_/%.-]{1,16}".r

  test("metric names and units are well formed and used once") {
    val all = Main.EndToEnd ++ Main.PerLayer
    all.foreach { case (n, u) =>
      assert(Name.matches(n), n)
      assert(Unit.matches(u), s"$n: $u")
    }
    assert(all.map(_._1).distinct.size == all.size)
    assert(Main.Workloads.forall(w => Name.matches(w)))
  }

  test("BENCHMARK.json declares exactly the metrics and workloads the benchmark prints") {
    val f = new File(new File(sys.props("user.dir")).getParentFile, "BENCHMARK.json")
    val json = new ObjectMapper().readTree(f)
    def named(key: String) = json.get(key).elements().asScala.toSeq
    assert(named("workloads").map(_.get("name").asText) == Main.Workloads)
    assert(named("end_to_end").map(m => m.get("name").asText -> m.get("unit").asText) == Main.EndToEnd)
    assert(named("per_layer").map(m => m.get("name").asText -> m.get("unit").asText) == Main.PerLayer)
    named("end_to_end").foreach(m => assert(m.get("bound").asDouble > 0 && m.get("bound").asDouble <= 0.25))
  }

  test("the JSON result carries every wanted metric, counts as integers") {
    val r = new Report
    r("wall_s") = 1.25
    r.op(ok = true, "x")
    val line = r.json(Seq("wall_s" -> "s", "spark.jobs" -> "count"))
    val node = new ObjectMapper().readTree(line)
    assert(node.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
    assert(node.get("metrics").get("wall_s").get("value").asDouble == 1.25)
    assert(node.get("metrics").get("spark.jobs").get("value").isIntegralNumber)
  }

  test("ordered digests compose across pieces") {
    val rows = (1 to 50).map(i => Seq(s"a$i", (i * 7).toString))
    val whole = new Digest.Ordered
    rows.foreach(whole.add)
    val a = new Digest.Ordered; rows.take(17).foreach(a.add)
    val b = new Digest.Ordered; rows.drop(17).foreach(b.add)
    val joined = new Digest.Ordered
    joined.append(a.rows, a.value); joined.append(b.rows, b.value)
    assert((joined.rows, joined.value) == ((whole.rows, whole.value)))
    val swapped = new Digest.Ordered
    swapped.append(b.rows, b.value); swapped.append(a.rows, a.value)
    assert(swapped.value != whole.value)
  }
}
