package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a workload sees of the benchmark: the session, the seed, a timer
  * around each call into a layer, and the output checks. */
final class Ctx(val spark: SparkSession, val args: Bench.Args, val cores: Int,
                val work: Path) {
  @volatile var epoch: Int = 0
  /** True during the untimed warm-up round. */
  @volatile var warm: Boolean = false

  val attempted = new AtomicLong
  val failed = new AtomicLong
  val failures = new ConcurrentLinkedQueue[String]
  /** Input sizes stamped into the run record. */
  val sizes = TrieMap.empty[String, Long]
  /** Workload-specific figures for the run record. */
  val extra = TrieMap.empty[String, Any]
  /** (epoch, layer, call, seconds) of every timed call. */
  val calls = new ConcurrentLinkedQueue[(Int, String, String, Double)]
  /** (epoch, step, seconds) of the sequential steps of each round: the
    * calls made on the thread that runs the rounds, and `step` blocks. */
  val steps = new ConcurrentLinkedQueue[(Int, String, Double)]
  private val roundThread = Thread.currentThread()

  val tracer: Option[Tracer] =
    if (args.trace) Some(new Tracer(spark.sparkContext)) else None

  def seed: Long = args.seed

  private def fail(what: String, e: Throwable): Unit = {
    failed.incrementAndGet()
    if (failures.size < 20) failures.add(s"$what: ${Option(e).map(x => x.toString.take(300)).getOrElse("")}")
    System.err.println(s"[graftbench] FAILED $what ${Option(e).map(_.toString).getOrElse("")}")
  }

  /** Time one call into `layer`, forcing a DataFrame result with a noop
    * write inside the timed span. Traced epochs also time the physical
    * planning of the returned DataFrame and the storage it leaves cached. */
  def call[T](layer: String, name: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    val traced = tracer.exists(_.enabled)
    val span = tracer.filter(_.enabled).map(_.open(layer, name, epoch))
    val cached0 = if (traced) Tracer.storageMb(spark.sparkContext) else 0.0
    val t0 = System.nanoTime()
    try {
      val r = body
      r match {
        case df: DataFrame =>
          if (traced) {
            val p0 = System.nanoTime()
            df.queryExecution.executedPlan
            span.foreach(_.planS += Bench.secs(p0))
          }
          Bench.force(df)
        case _ =>
      }
      Some(r)
    } catch {
      case NonFatal(e) => fail(s"$layer.$name", e); None
    } finally {
      val took = Bench.secs(t0)
      calls.add((epoch, layer, name, took))
      if (Thread.currentThread() eq roundThread) steps.add((epoch, s"$layer.$name", took))
      if (warm && layer != "api") System.err.println(f"[graftbench] warm-up $layer.$name $took%.3f s")
      span.foreach { s =>
        tracer.get.close(s)
        s.cachedMb = Tracer.storageMb(spark.sparkContext) - cached0
      }
    }
  }

  /** Time a round step that is not itself one layer call (it may run
    * calls on other threads). */
  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally steps.add((epoch, name, Bench.secs(t0)))
  }

  /** Σ over steps of the step's median seconds over `epochs`. */
  def stepMedianSum(epochs: Set[Int]): Double =
    steps.asScala.toSeq.filter(s => epochs(s._1)).groupBy(_._2).values.map { ss =>
      Bench.median(ss.groupBy(_._1).values.map(_.map(_._3).sum).toSeq)
    }.sum

  /** One output check: counts as an attempted operation, and as a failed
    * one when `ok` is false or throws. */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted.incrementAndGet()
    try { if (!ok) fail(s"check $name", null) }
    catch { case NonFatal(e) => fail(s"check $name", e) }
  }

  def afterRound(): Unit = System.gc()

  /** Heap still in use after full collections; the pause between them lets
    * Spark's context cleaner drop blocks whose owners were collected. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(150) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Median seconds of each call over the timed rounds. */
  def callMedians: Map[String, Double] =
    calls.asScala.toSeq.filter(_._1 > 0).groupBy(c => s"${c._2}.${c._3}")
      .map { case (k, cs) => k -> Bench.median(cs.groupBy(_._1).values.map(_.map(_._4).sum).toSeq) }

  // ---- per-layer report ----------------------------------------------------

  def layerMetrics(wl: Workload, tracedWall: Double,
                   untracedWall: Double): Map[String, Double] = {
    val tr = tracer.get
    tr.drain()
    val callList = calls.asScala.toSeq
    val tracedEpochs = tr.spans.map(_.epoch).filter(_ > 0).distinct
    val setupEpochs = tr.spans.map(_.epoch).filter(_ < 0).distinct
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (layer <- Layers.full) {
      // set-up layers are measured over the repeated input builds
      val epochs = if (layer == "core") setupEpochs else tracedEpochs
      val per = epochs.map(e => tr.layerEpoch(layer, e, cores))
      Layers.fields.foreach { f =>
        out(s"$layer.$f") = Bench.median(per.map(_.getOrElse(f, 0.0)))
      }
    }
    out("api.wall_s") = Bench.median(tracedEpochs.map(e =>
      tr.layerEpoch("api", e, cores).getOrElse("wall_s", 0.0)))
    wl.apiMetrics(this).foreach { case (k, v) => out(s"api.$k") = v }
    val (steps, stepMs) = wl.pregelSteps(this, tracedEpochs.toSet)
    out("pregel.supersteps") = steps
    out("pregel.ms_per_superstep") = stepMs
    for ((layer, name) <- Layers.calls) {
      val perEpoch = tracedEpochs.map { e =>
        callList.filter(c => c._1 == e && c._2 == layer && c._3 == name).map(_._4).sum
      }
      out(s"$layer.${name}_s") = Bench.median(perEpoch)
    }
    out("trace.overhead_s") = tracedWall - untracedWall
    // pregel runs inside the REST calls and core inside set-up, so the
    // round is accounted for by the other layers' wall time
    extra("accounting") = Map(
      "layers_wall_s" -> Seq("algos.loops", "algos.triangles", "pipeline", "functions", "api")
        .map(l => out(s"$l.wall_s")).sum,
      "traced_round_s" -> tracedWall,
      "untraced_round_s" -> untracedWall)
    out.toMap
  }
}

object Ctx {
  val SetupReps = 3
}

/** Layer and call names of the per-layer report. Every traced run reports
  * all of them, with zeros for layers a workload does not touch. */
object Layers {
  val full: Seq[String] =
    Seq("core", "algos.loops", "algos.triangles", "pregel", "pipeline", "functions")
  val fields: Seq[String] = Seq("wall_s", "plan_s", "driver_s", "jobs", "stages", "tasks",
    "task_busy_s", "util", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s",
    "peak_exec_mem_mb", "skew", "cached_mb")
  val calls: Seq[(String, String)] =
    Seq("wcc").map("algos.loops" -> _) ++
    Seq("prepare", "triangleCounts", "globalCount", "twoHop")
      .map("algos.triangles" -> _) ++
    Seq("exactDedup", "minHashLSH", "bpeLearn", "editDistancePairs").map("pipeline" -> _) ++
    Seq("minHashSignature", "simHash", "bpeEncode").map("functions" -> _)
  val api: Seq[String] = Seq("run_p50_s", "run_tail_s", "read_p50_ms", "read_tail_ms")

  /** Every per-layer metric name, in report order. */
  def names: Seq[String] =
    full.flatMap(l => fields.map(f => s"$l.$f")) ++ Seq("api.wall_s") ++
      api.map("api." + _) ++ Seq("pregel.supersteps", "pregel.ms_per_superstep") ++
      calls.map { case (l, c) => s"$l.${c}_s" } ++ Seq("trace.overhead_s")
}
