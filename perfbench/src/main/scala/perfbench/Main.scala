package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one process:
  * {{{
  *   perfbench.Main --workload <ingest|enrich|spatial_join> --seed <n> --seconds <s>
  *                  --trace <0|1> --work <dir> --out <dir> [--plant] [--scale tiny]
  * }}}
  * `--scale tiny` is for the benchmark's own tests; `run.py` never passes it.
  * Both modes generate the inputs, then set up `Setups` times (each a fresh
  * session plus the workload's set-up; the median is `setup_s`, the first
  * session start plus the first set-up is `cold_setup_s`). Untraced
  * (`--trace 0`): run closed-loop passes over the workload's ops for
  * `--seconds`, check the outputs and print the end-to-end metrics. Traced
  * (`--trace 1`): run each op twice untraced and twice under spans and Spark
  * counters (alternating, the faster of each kept), then the per-layer
  * measurements; the spans go to `<out>/spans-<workload>-seed<seed>.json`.
  * The last stdout line is the result JSON; `--plant` feeds every check a
  * deliberately wrong output. */
object Main {
  val Setups = 3

  final class Args(m: Map[String, String]) {
    val workload: String = m("workload")
    val seed: Long = m("seed").toLong
    val seconds: Double = m("seconds").toDouble
    val trace: Boolean = m.getOrElse("trace", "0") == "1"
    val work: Path = Paths.get(m("work")).toAbsolutePath
    val out: Path = Paths.get(m.getOrElse("out", m("work"))).toAbsolutePath
    val tiny: Boolean = m.get("scale").contains("tiny")
    val plant: Boolean = m.contains("plant")
  }

  def parse(argv: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (k == "plant") { m(k) = "1"; i += 1 }
      else { m(k) = argv(i + 1); i += 2 }
    }
    new Args(m.toMap)
  }

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", 2 * cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The run's outcome: the result JSON's fields, and each check's messages. */
  final case class Result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double)],
                          checks: Seq[CheckResult]) {
    def json: String = {
      val ms = metrics.map { case (k, v) =>
        require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
        s""""$k": ${java.lang.Double.toString(v)}"""
      }
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val result = run(a)
    println(result.json)
    sys.exit(if (result.correct) 0 else 1)
  }

  /** Throughput metric of an op, e.g. `ingest.geojson` in MB -> `ingest_geojson_mb_s`. */
  def rateName(op: Op): String = s"${op.name.replace('.', '_')}_${op.unit.toLowerCase}_s"

  def run(a: Args): Result = {
    val started = System.nanoTime()
    def elapsed: String = f"at ${(System.nanoTime() - started) / 1e9}%.1fs"
    val wl = Workload.all(a.workload)()
    val cores = Runtime.getRuntime.availableProcessors()
    val scale = if (a.tiny) Scale.tiny else Scale.full(cores)
    val tracer = new Tracer(a.trace)
    Files.createDirectories(a.work)
    val session0 = System.nanoTime()
    var spark = session(a.work, cores)
    val sessionS = (System.nanoTime() - session0) / 1e9
    def ctx = new Ctx(spark, a.work, a.seed, scale, tracer, a.plant)

    val t0 = System.nanoTime()
    val (bytes, features, vertices) = tracer.span("bench.generate")(wl.generate(ctx))
    val genS = (System.nanoTime() - t0) / 1e9
    println(f"input ${a.workload} seed=${a.seed} bytes=$bytes features=$features vertices=$vertices gen_s=$genS%.2f $elapsed")

    var attempted = 0
    var failed = 0
    def attempt[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $what failed: $e")
          e.printStackTrace()
          None
      }
    }
    def timeOp(c: Ctx, op: Op, iteration: Int): Option[Double] = {
      val r = attempt(op.name)(c.timed(op.name, iteration)(op.sink(c.tracer.span("construct", iteration)(op.build()))))
      wl.afterOp(c, op)
      r
    }

    val metrics = mutable.ArrayBuffer.empty[(String, Double)]
    // the first set-up runs on a cold JVM (cold_setup_s adds the first
    // session start to it); the median of three is a warm one (setup_s)
    val setups = (1 to Setups).map { i =>
      val s0 = System.nanoTime()
      tracer.span("setup", i) {
        spark.stop()
        spark = session(a.work, cores)
        wl.setup(ctx)
      }
      (System.nanoTime() - s0) / 1e9
    }
    val c = ctx

    if (!a.trace) {
      val opTimes = mutable.LinkedHashMap.empty[String, (Op, mutable.ArrayBuffer[Double])]
      val passes = mutable.ArrayBuffer.empty[Double]
      val start = System.nanoTime()
      while (passes.isEmpty || (System.nanoTime() - start) / 1e9 < a.seconds) {
        val times = wl.ops(c).map(op => op -> timeOp(c, op, passes.size + 1))
        times.foreach { case (op, t) => t.foreach(opTimes.getOrElseUpdate(op.name, (op, mutable.ArrayBuffer.empty))._2 += _) }
        passes += times.flatMap(_._2).sum
      }
      opTimes.values.foreach { case (op, ts) =>
        println(f"op ${op.name} runs=${ts.size} median_s=${median(ts.toSeq)}%.4f " +
          f"${rateName(op)}=${op.units / median(ts.toSeq)}%.1f times=${ts.map(t => f"$t%.3f").mkString(",")}")
      }
      println(s"passes=${passes.map(t => f"$t%.3f").mkString(",")} setups=${setups.map(t => f"$t%.3f").mkString(",")} session_s=${f"$sessionS%.3f"} $elapsed")
      metrics += "setup_s" -> median(setups)
      metrics += "cold_setup_s" -> (sessionS + setups.head)
      metrics += "pass_s" -> median(passes.toSeq)
    } else {
      val listener = new CounterListener(spark.sparkContext)
      val overheads = mutable.ArrayBuffer.empty[(Double, Double)]
      // one op under spans and counters: (construction counters, all
      // counters, construction seconds, wall seconds)
      def tracedOp(op: Op, iteration: Int): Option[(Counters, Counters, Double, Double)] = {
        spark.sparkContext.addSparkListener(listener)
        listener.snapshot()
        val r = attempt(op.name)(tracer.span(op.name, iteration) {
          val t0 = System.nanoTime()
          val df = tracer.span("construct", iteration)(op.build())
          val built = listener.snapshot()
          val t1 = System.nanoTime()
          tracer.span("execute", iteration)(op.sink(df))
          val all = built + listener.snapshot()
          (built, all, (t1 - t0) / 1e9, (System.nanoTime() - t0) / 1e9)
        })
        wl.afterOp(c, op)
        spark.sparkContext.removeSparkListener(listener)
        r
      }
      wl.ops(c).foreach { op =>
        // alternate untraced and traced runs, keep the faster of each
        val runs = (1 to 2).map { i =>
          tracer.enabled = false
          val plain = timeOp(c, op, i)
          tracer.enabled = true
          (plain, tracedOp(op, i))
        }
        val plain = runs.flatMap(_._1).minOption
        val traced = runs.flatMap(_._2).minByOption(_._4)
        for (p <- plain; (built, all, constructS, wall) <- traced) {
          val n = op.name
          overheads += ((p, wall))
          metrics ++= Seq(
            rateName(op) -> op.units / p,
            s"spark.construct_s.$n" -> constructS,
            s"spark.construct_jobs.$n" -> built.jobs.toDouble,
            s"spark.jobs.$n" -> all.jobs.toDouble,
            s"spark.executor_cpu_s.$n" -> all.cpuNs / 1e9,
            s"spark.gc_s.$n" -> all.gcMs / 1e3,
            s"spark.shuffle_write_mb.$n" -> all.shuffleWriteBytes / 1e6,
            s"spark.spill_mb.$n" -> all.spillBytes / 1e6,
            s"spark.busy_ratio.$n" -> all.runMs / 1e3 / (wall * cores),
            s"spark.task_skew.$n" -> all.taskSkew,
            s"bench.trace_overhead_frac.$n" -> (wall / p - 1))
        }
      }
      attempt("layers")(tracer.span("layers")(wl.layers(c))).foreach(metrics ++= _)
      metrics += "bench.gen_s" -> genS
      if (overheads.nonEmpty)
        metrics += "bench.trace_overhead_frac" -> (overheads.map(_._2).sum / overheads.map(_._1).sum - 1)
    }

    val checks = attempt("checks")(tracer.span("checks")(wl.check(c))).getOrElse(Nil)
    checks.foreach { r =>
      attempted += 1
      if (r.failures.nonEmpty) failed += 1
      println(s"check ${r.name} ${if (r.failures.isEmpty) "ok" else "FAILED"}")
      r.failures.foreach(f => println(s"  $f"))
    }
    println(f"failed_ratio=${failed.toDouble / attempted}%.4f ($failed of $attempted ops and checks)")
    spark.stop()
    println(s"done $elapsed")
    if (a.trace) tracer.write(a.out.resolve(s"spans-${a.workload}-seed${a.seed}.json"))
    Result(failed == 0, attempted, failed, metrics.toSeq, checks)
  }
}
