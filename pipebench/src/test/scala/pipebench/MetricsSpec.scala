package pipebench

import java.io.File
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  test("BENCHMARK.json lists exactly the metrics the harness reports, in order") {
    val f = new File(new File(sys.props("user.dir")).getParentFile, "BENCHMARK.json")
    val root = new ObjectMapper().readTree(f)
    def listed(key: String): Seq[(String, String)] =
      root.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(listed("end_to_end") == Metrics.EndToEnd)
    assert(listed("per_layer") == Metrics.PerLayer)
    assert(root.get("workloads").elements().asScala.map(_.get("name").asText).toSet ==
      Main.workloads(new File(".")).keySet)
  }
}
