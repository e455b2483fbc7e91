package perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Tiny-scale runs of every workload through [[Main.run]]: untraced, traced,
  * and with a planted wrong output that every check must reject. */
class SmokeSpec extends AnyFunSuite {
  private val work = Paths.get(sys.props.getOrElse("perfbench.test.work", "target/test-work"))
  private val perLayer: Set[String] = {
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get("..", "BENCHMARK.json").toFile)
    (0 until spec.path("per_layer").size()).map(i => spec.path("per_layer").get(i).path("name").asText()).toSet
  }

  private def run(workload: String, trace: Boolean, plant: Boolean): Main.Result = {
    val dir = work.resolve(s"$workload-$trace-$plant")
    if (Files.exists(dir)) {
      val st = Files.walk(dir)
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).forEach(p => Files.delete(p))
      finally st.close()
    }
    Main.run(Main.parse(Array("--workload", workload, "--seed", "3", "--seconds", "0.1",
      "--trace", if (trace) "1" else "0", "--work", dir.toString,
      "--scale", "tiny") ++ (if (plant) Seq("--plant") else Nil)))
  }

  for (w <- Workload.all.keys.toSeq.sorted) {
    test(s"$w: untraced run is correct and reports the end-to-end metrics") {
      val r = run(w, trace = false, plant = false)
      assert(r.correct && r.failed == 0 && r.checks.nonEmpty)
      assert(r.metrics.map(_._1).toSet == Set("setup_s", "cold_setup_s", "pass_s"))
      assert(r.metrics.forall(_._2 > 0))
    }

    test(s"$w: traced run reports per-layer metrics and writes its spans") {
      val r = run(w, trace = true, plant = false)
      assert(r.correct)
      val names = r.metrics.map(_._1)
      assert(names.size == names.toSet.size)
      assert(names.toSet.subsetOf(perLayer), names.toSet.diff(perLayer))
      assert(names.contains("bench.trace_overhead_frac") && names.contains("bench.gen_s"))
      assert(Files.size(work.resolve(s"$w-true-false").resolve(s"spans-$w-seed3.json")) > 0)
    }

    test(s"$w: every check rejects a planted wrong output") {
      val r = run(w, trace = false, plant = true)
      assert(!r.correct)
      assert(r.checks.forall(_.failures.nonEmpty), r.checks.filter(_.failures.isEmpty).map(_.name))
    }
  }
}
