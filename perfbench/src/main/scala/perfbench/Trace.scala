package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine counters summed over an interval of the run. */
final case class Counters(jobs: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                          shuffleWriteBytes: Long, spillBytes: Long,
                          taskMsByStage: Map[Int, Seq[Long]]) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, runMs + o.runMs,
    cpuNs + o.cpuNs, gcMs + o.gcMs, shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    (taskMsByStage.keySet ++ o.taskMsByStage.keySet).map(k =>
      k -> (taskMsByStage.getOrElse(k, Nil) ++ o.taskMsByStage.getOrElse(k, Nil))).toMap)

  /** slowest / median task time in the stage with the most task time */
  def taskSkew: Double =
    if (taskMsByStage.isEmpty) 1.0
    else {
      val ts = taskMsByStage.values.maxBy(_.sum).sorted
      val median = math.max(1L, ts(ts.size / 2))
      ts.last.toDouble / median
    }
}

/** SparkListener collecting job/task counters. Events arrive on Spark's
  * listener bus thread; [[snapshot]] drains the bus first, so a snapshot
  * taken after an action includes all of its tasks. */
final class CounterListener(sc: SparkContext) extends SparkListener {
  private var jobs = 0
  private var runMs, cpuNs, gcMs, shuffleWrite, spill = 0L
  private val byStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    byStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Counters accumulated since the previous call (after draining the bus). */
  def snapshot(): Counters = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    synchronized {
      val c = Counters(jobs, runMs, cpuNs, gcMs, shuffleWrite, spill,
        byStage.map { case (k, v) => k -> v.toSeq }.toMap)
      jobs = 0; runMs = 0; cpuNs = 0; gcMs = 0; shuffleWrite = 0; spill = 0
      byStage.clear()
      c
    }
  }
}

final case class Span(id: Int, name: String, parent: Int, iteration: Int, startNs: Long, endNs: Long)

/** In-memory spans around the benchmark's calls into the engine, written as
  * JSON when the run ends. A disabled tracer only runs the body. */
final class Tracer(var enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  private val t0 = System.nanoTime()

  def span[T](name: String, iteration: Int = 0)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val start = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, iteration, start - t0, System.nanoTime() - t0)
        stack = stack.tail
      }
    }

  /** Self time = duration minus the time covered by direct children (which
    * never overlap: the benchmark is single-threaded on the driver). */
  def selfNs(s: Span): Long =
    (s.endNs - s.startNs) - spans.iterator.filter(_.parent == s.id).map(c => c.endNs - c.startNs).sum

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val body = spans.sortBy(_.id).map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"iteration":${s.iteration},""" +
        f""""start_ms":${s.startNs / 1e6}%.3f,"end_ms":${s.endNs / 1e6}%.3f,"self_ms":${selfNs(s) / 1e6}%.3f}"""
    }.mkString("[\n", ",\n", "\n]\n")
    Files.writeString(path, body)
  }
}
