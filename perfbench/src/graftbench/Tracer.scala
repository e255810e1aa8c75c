package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span and count recorder for traced rounds.
  *
  * A span wraps one call into a layer (workload → layer call); the calling
  * thread carries the span id as a Spark local property, so every job the
  * call submits — and that job's stages and tasks — is charged to it.
  * Jobs that carry no span id (submitted from threads the program starts
  * itself, e.g. REST runs) are charged to `defaultSpan` when one is set. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  @volatile var enabled = false
  @volatile var defaultSpan: Span = _

  private val ids = new AtomicLong
  private val all = new ConcurrentHashMap[Long, Span]
  private val jobSpan = new ConcurrentHashMap[Int, Span]
  private val jobStart = new ConcurrentHashMap[Int, Long]
  private val stageSpan = new ConcurrentHashMap[Int, Span]
  private val stageTasks = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]

  sc.addSparkListener(this)

  def spans: Seq[Span] = all.values.asScala.toSeq.sortBy(_.id)

  /** Open a span and tag the calling thread's jobs with it. */
  def open(layer: String, call: String, epoch: Int): Span = {
    val s = new Span(ids.incrementAndGet(), layer, call, epoch, System.currentTimeMillis())
    all.put(s.id, s)
    sc.setLocalProperty(SpanKey, s.id.toString)
    s
  }

  /** A span no thread is tagged with — the target of `defaultSpan`. */
  def detached(layer: String, call: String, epoch: Int): Span = {
    val s = new Span(ids.incrementAndGet(), layer, call, epoch, System.currentTimeMillis())
    all.put(s.id, s)
    s
  }

  def close(s: Span): Unit = {
    s.end = System.currentTimeMillis()
    sc.setLocalProperty(SpanKey, null)
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tagged = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .flatMap(id => Option(all.get(id.toLong)))
    tagged.orElse(Option(defaultSpan)).foreach { s =>
      jobSpan.put(e.jobId, s)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(stageSpan.put(_, s))
      s.synchronized { s.jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { s =>
      val t0 = jobStart.remove(e.jobId)
      s.synchronized { s.jobIntervals += ((t0, e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.remove(e.stageInfo.stageId)).foreach { s =>
      val d = Option(stageTasks.remove(e.stageInfo.stageId))
        .map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
      s.synchronized {
        s.stages += 1
        if (d.size >= 2) {
          val med = math.max(1L, d(d.size / 2))
          s.skew = math.max(s.skew, d.last.toDouble / med)
        }
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val dur = e.taskInfo.duration
      stageTasks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
        .synchronized(stageTasks.get(e.stageId) += dur)
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        s.busyMs += dur
        if (m != null) {
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.gcMs += m.jvmGCTime
          s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        }
      }
    }

  /** Per-layer figures of one epoch (a traced round, or one set-up build). */
  def layerEpoch(layer: String, epoch: Int, cores: Int): Map[String, Double] = {
    val ss = spans.filter(s => s.layer == layer && s.epoch == epoch && s.end > 0)
    if (ss.isEmpty) return Map.empty
    val spanIv = union(ss.map(s => (s.start, s.end)))
    val wallMs = length(spanIv).toDouble
    val jobIv = intersect(union(ss.flatMap(_.jobIntervals)), spanIv)
    val busy = ss.map(_.busyMs).sum / 1000.0
    Map(
      "wall_s" -> wallMs / 1000.0,
      "plan_s" -> ss.map(_.planS).sum,
      "driver_s" -> (wallMs - length(jobIv)) / 1000.0,
      "jobs" -> ss.map(_.jobs).sum.toDouble,
      "stages" -> ss.map(_.stages).sum.toDouble,
      "tasks" -> ss.map(_.tasks).sum.toDouble,
      "task_busy_s" -> busy,
      "util" -> (if (wallMs > 0) busy / (wallMs / 1000.0 * cores) else 0.0),
      "shuffle_read_mb" -> ss.map(_.shuffleRead).sum / MB,
      "shuffle_write_mb" -> ss.map(_.shuffleWrite).sum / MB,
      "spill_mb" -> ss.map(_.spill).sum / MB,
      "gc_s" -> ss.map(_.gcMs).sum / 1000.0,
      "peak_exec_mem_mb" -> ss.map(_.peakMem).foldLeft(0L)(math.max) / MB,
      "skew" -> ss.map(_.skew).foldLeft(0.0)(math.max),
      "cached_mb" -> ss.map(_.cachedMb).sum)
  }

  def spansJson: Seq[Json.RawJson] = spans.filter(_.end > 0).map { s =>
    Json.obj("id" -> s.id, "layer" -> s.layer, "call" -> s.call, "epoch" -> s.epoch,
      "start_ms" -> s.start, "end_ms" -> s.end, "plan_s" -> s.planS, "jobs" -> s.jobs,
      "stages" -> s.stages, "tasks" -> s.tasks, "task_busy_s" -> s.busyMs / 1000.0,
      "shuffle_read_mb" -> s.shuffleRead / MB, "shuffle_write_mb" -> s.shuffleWrite / MB,
      "spill_mb" -> s.spill / MB, "gc_s" -> s.gcMs / 1000.0,
      "peak_exec_mem_mb" -> s.peakMem / MB, "skew" -> s.skew, "cached_mb" -> s.cachedMb,
      "job_intervals_ms" -> s.jobIntervals.map { case (a, b) => Seq(a, b) })
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  val MB = 1048576.0

  final class Span(val id: Long, val layer: String, val call: String, val epoch: Int,
                   val start: Long) {
    @volatile var end: Long = 0L
    @volatile var planS: Double = 0.0
    @volatile var cachedMb: Double = 0.0
    var jobs, stages, tasks = 0
    var busyMs, shuffleRead, shuffleWrite, spill, gcMs, peakMem = 0L
    var skew = 0.0
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  /** Storage memory held by cached and checkpointed blocks. */
  def storageMb(sc: SparkContext): Double =
    sc.getRDDStorageInfo.map(_.memSize).sum / MB

  def union(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  def intersect(xs: Seq[(Long, Long)], ys: Seq[(Long, Long)]): Seq[(Long, Long)] =
    for ((a, b) <- xs; (c, d) <- ys; lo = math.max(a, c); hi = math.min(b, d); if hi > lo)
      yield (lo, hi)

  def length(iv: Seq[(Long, Long)]): Long = iv.map { case (a, b) => b - a }.sum
}
