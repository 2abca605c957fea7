package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: pass, op, phase (build / exec / release), a
  * schema-lint call, or a Spark job. Times are epoch milliseconds. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    start: Double, end: Double)

/** What the listeners saw while one op (or one schema-lint call) ran. */
final class Counters {
  var jobs, stages, tasks, blocks, scanRows = 0L
  var taskS, cpuS, gcS, schedS, planS = 0.0
  var shuffleWriteB, shuffleReadB, spillB, scanB, blockB = 0.0
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
}

/** The traced run's listeners and span store. The harness drains the
  * listener bus after every op, so every event is counted into the
  * [[Counters]] of the op that caused it; Spark jobs become child spans of
  * the phase whose job group they ran under. Spans stay in memory until
  * [[writeJson]]. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val jobStart = mutable.Map.empty[Int, (Double, Int)]
  @volatile var current: Counters = new Counters
  /** Listener events count only while a traced pass runs. */
  @volatile var enabled = false
  private var nextId = 0

  private def now: Double = System.nanoTime() / 1e6 + Tracer.epochOffsetMs

  def newId(): Int = synchronized { nextId += 1; nextId }

  /** Runs `body` as span `id` (a fresh id when negative); returns its result. */
  def span[A](name: String, layer: String, parent: Int, id: Int = -1)(body: => A): A = {
    val sid = if (id < 0) newId() else id
    val t0 = now
    try body
    finally synchronized { spanBuf += Span(sid, name, layer, parent, t0, now) }
  }

  def spans: Seq[Span] = synchronized(spanBuf.toVector)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val parent = group.filter(_.startsWith("span-")).map(_.drop(5).toInt).getOrElse(0)
    jobStart(e.jobId) = (e.time.toDouble, parent)
    current.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, parent) =>
      val t1 = math.max(t0, e.time.toDouble)
      spanBuf += Span(newId(), s"job-${e.jobId}", "spark", parent, t0, t1)
      current.jobIntervals += ((t0, t1))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) synchronized {
    current.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) synchronized {
    val c = current
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskS += m.executorRunTime / 1e3
      c.cpuS += m.executorCpuTime / 1e9
      c.gcS += m.jvmGCTime / 1e3
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      c.spillB += m.diskBytesSpilled
      c.scanB += m.inputMetrics.bytesRead
      c.scanRows += m.inputMetrics.recordsRead
      // the Spark UI's scheduler delay: task wall time not spent running,
      // deserializing, or shipping the result
      val info = e.taskInfo
      c.schedS += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime) / 1e3
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (enabled) synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      current.blocks += 1
      current.blockB += b.memSize + b.diskSize
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) {
      val s = qe.tracker.phases.values.map(_.durationMs).sum / 1e3
      synchronized { current.planS += s }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Self time per layer: each span's duration minus the union of its
    * children's intervals, summed by layer. */
  def selfTimeByLayer(): Map[String, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Tracer.unionLength(kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end))))
        math.max(0.0, s.end - s.start - covered) / 1e3
      }.sum
    }
  }

  /** Writes the spans, timed in milliseconds from the first span's start. */
  def writeJson(path: java.nio.file.Path): Unit = {
    val all = spans.sortBy(_.start)
    val t0 = all.headOption.map(_.start).getOrElse(0.0)
    val rows = all.map(s => Json.obj("id" -> s.id.toString, "name" -> Json.str(s.name),
      "layer" -> Json.str(s.layer), "parent" -> s.parent.toString,
      "start_ms" -> Json.num(s.start - t0), "end_ms" -> Json.num(s.end - t0)))
    java.nio.file.Files.writeString(path, Json.obj(
      "t0_epoch_ms" -> f"$t0%.0f", "spans" -> rows.mkString("[\n", ",\n", "\n]")) + "\n")
  }
}

object Tracer {
  /** Maps `System.nanoTime` onto the epoch clock Spark stamps events with. */
  val epochOffsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6

  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total, reach = 0.0
    var open = false
    for ((a, b) <- iv.filter(p => p._2 > p._1).sortBy(_._1)) {
      if (!open || a > reach) { total += b - a; reach = b; open = true }
      else if (b > reach) { total += b - reach; reach = b }
    }
    total
  }
}
