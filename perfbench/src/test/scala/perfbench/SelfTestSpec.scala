package perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark on tiny inputs (`CorpusGen.small`, the sf0.001 tables):
  * every check passes and the record names every metric. */
class SelfTestSpec extends AnyFunSuite {
  private val data = sys.props("perfbench.data")
  private val scratch = Paths.get(sys.props("perfbench.scratch"))

  private def runTiny(w: Workload, trace: Boolean): String = {
    Files.createDirectories(scratch)
    val dir = Files.createTempDirectory(scratch, w.name)
    Main.run(w, seed = 7L, seconds = 1.0, trace = trace, dir = dir.toString,
      dataDir = data, tiny = true, commit = "self-test")
  }

  private def metric(name: String) = "\"" + name + "\":{\"value\":"

  test("BENCHMARK.json lists exactly the metrics a run reports") {
    val json = Files.readString(Paths.get(data, "..", "..", "BENCHMARK.json"))
    val listed = "\"name\": \"([^\"]+)\"".r.findAllMatchIn(json)
      .map(_.group(1)).toSet
    val reported = Layers.names.toSet ++ Main.endToEnd ++ Main.workloads.keys
    assert(listed == reported, (listed -- reported, reported -- listed))
  }

  test("tile_hot, traced: correct, with every per-layer metric") {
    val rec = runTiny(new TileHot, trace = true)
    assert(rec.contains("\"result\":{\"correct\":true"), rec.take(2000))
    Layers.names.foreach(n => assert(rec.contains(metric(n)), n))
    assert(rec.contains("\"run.pyramid_job\""))
  }

  test("curate: correct, with every end-to-end metric") {
    val rec = runTiny(new Curate, trace = false)
    assert(rec.contains("\"result\":{\"correct\":true"), rec.take(2000))
    Main.endToEnd.foreach(n => assert(rec.contains(metric(n)), n))
  }
}
