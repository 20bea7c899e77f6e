package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Task-level counters from Spark's public listener events. Jobs started by
  * a streaming micro-batch carry its id as a local property, so jobs and
  * tasks are also counted per batch. */
final class TaskStats extends SparkListener {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, recordsRead = 0L
  val jobsByBatch = mutable.Map.empty[Long, Long].withDefaultValue(0L)
  val tasksByBatch = mutable.Map.empty[Long, Long].withDefaultValue(0L)
  private val stageBatch = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).foreach { b =>
      jobsByBatch(b.toLong) += 1
      e.stageIds.foreach(stageBatch(_) = b.toLong)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    stageBatch.get(e.stageId).foreach(tasksByBatch(_) += 1)
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      recordsRead += m.inputMetrics.recordsRead
    }
  }

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0
    runMs = 0; cpuNs = 0; gcMs = 0; shuffleRead = 0; shuffleWrite = 0; spill = 0; recordsRead = 0
    jobsByBatch.clear(); tasksByBatch.clear(); stageBatch.clear()
  }
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    counts: Map[String, Long]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory spans around the benchmark's calls into each layer; written out
  * once, with self times, when the run ends. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  /** Runs `f` as a span under `parent`; `f` gets the span's id and returns
    * its result plus the counts to record on the span. */
  def span[T](name: String, parent: Int = -1)(f: Int => (T, Map[String, Long])): T = {
    val id = { nextId += 1; nextId }
    val t0 = System.nanoTime()
    val (out, counts) = f(id)
    spans += Span(id, parent, name, t0, System.nanoTime(), counts)
    out
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def totalMs(name: String): Double = named(name).map(_.ms).sum
  def count(name: String, key: String): Long = named(name).flatMap(_.counts.get(key)).sum

  def write(path: Path): Unit = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    val lines = spans.map { s =>
      val counts = s.counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"ms":${s.ms},"self_ms":${s.ms - childMs.getOrElse(s.id, 0.0)},""" +
        s""""counts":{$counts}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }
}
