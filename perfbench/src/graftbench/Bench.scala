package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-workload benchmark runner.
  *
  * One JVM runs one workload: start a local session, build the seeded
  * inputs (repeated, median kept), run one untimed warm-up round, then run
  * timed rounds until `--seconds` have passed, then check the outputs.
  * `wall_s` sums, over the steps of a round, each step's median over the
  * untraced timed rounds, so that one slow call does not move the figure.
  * With `--trace 1` untraced and traced rounds interleave; the traced
  * rounds feed the per-layer metrics and the difference between the two
  * medians is the tracing overhead.
  *
  * Usage: graftbench.Bench --workload W --seed N --seconds S --trace 0|1
  *        --work DIR
  */
object Bench {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("work", ".bench_build/work"))
  }

  /** Runs the workload and exits the JVM: threads the program leaves
    * behind (e.g. an HTTP server's idle pool) must not delay the exit. */
  def main(argv: Array[String]): Unit = {
    val code = try { run(parse(argv)); 0 } catch {
      case NonFatal(e) => e.printStackTrace(); 1
    }
    System.out.flush()
    System.exit(code)
  }

  def run(args: Args): Unit = {
    val wl = Workloads(args.workload)
    val loadBefore = Host.loadAvg()
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(args.work).toAbsolutePath
    Files.createDirectories(work.resolve("tmp"))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // the status store keeps a bounded history, so retained heap and the
      // listener's work do not grow with the number of rounds run
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, args, cores, work)
    try {
      val sessionS = secs(t0)
      // set-up: the input build is repeated and its median kept, so that a
      // change which moves work into set-up shows against a steady figure
      ctx.tracer.foreach(_.enabled = true)
      val buildS = (0 until Ctx.SetupReps).map { i =>
        ctx.epoch = -1 - i
        val s = System.nanoTime()
        wl.setup(ctx)
        secs(s)
      }
      ctx.tracer.foreach(_.enabled = false)
      val once0 = System.nanoTime()
      wl.setupOnce(ctx)
      val onceS = secs(once0)
      ctx.epoch = 0
      val w0 = System.nanoTime()
      ctx.warm = true
      wl.round(ctx)
      ctx.warm = false
      val warmS = secs(w0)
      ctx.afterRound()
      val setupS = sessionS + median(buildS) + onceS + warmS

      // timed region: whole rounds until the budget is spent
      val rounds = mutable.ArrayBuffer.empty[(Boolean, Double)]
      val m0 = System.nanoTime()
      // traced runs order rounds untraced, traced, traced, untraced, ... so
      // that warm-up drift cancels out of the tracing overhead
      val minRounds = if (args.trace) 4 else 2
      while (secs(m0) < args.seconds || rounds.size < minRounds) {
        val traced = args.trace && (rounds.size % 4 == 1 || rounds.size % 4 == 2)
        ctx.epoch = rounds.size + 1
        ctx.tracer.foreach(_.enabled = traced)
        val r0 = System.nanoTime()
        wl.round(ctx)
        rounds += traced -> secs(r0)
        ctx.tracer.foreach(_.enabled = false)
        ctx.afterRound()
      }
      ctx.epoch = Int.MaxValue
      val c0 = System.nanoTime()
      wl.check(ctx)
      val checkS = secs(c0)
      val retainedMb = ctx.retainedHeapMb()
      wl.close(ctx)

      val plain = rounds.filterNot(_._1).map(_._2).toSeq
      val tracedR = rounds.filter(_._1).map(_._2).toSeq
      val (tracedEpochs, untracedEpochs) =
        rounds.indices.map(i => (i + 1, rounds(i)._1)).partition(_._2) match {
          case (t, u) => (t.map(_._1).toSet, u.map(_._1).toSet)
        }
      val wallS = ctx.stepMedianSum(untracedEpochs)
      val e2e = mutable.LinkedHashMap[String, (Double, String)](
        "setup_s" -> (setupS, "s"),
        "wall_s" -> (wallS, "s"),
        "retained_heap_mb" -> (retainedMb, "MB"))
      val layer: Map[String, Double] =
        if (args.trace) ctx.layerMetrics(wl, ctx.stepMedianSum(tracedEpochs), wallS)
        else Map.empty
      val loadAfter = Host.loadAvg()

      val record = Json.obj(
        "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
        "seconds" -> args.seconds, "cores" -> cores,
        "loadavg_before" -> loadBefore, "loadavg_after" -> loadAfter,
        "inputs" -> ctx.sizes.toMap,
        "attempted" -> ctx.attempted.get, "failed" -> ctx.failed.get,
        "failures" -> ctx.failures.toArray.toSeq,
        "session_s" -> sessionS, "input_build_s" -> buildS, "setup_once_s" -> onceS,
        "warmup_s" -> warmS, "check_s" -> checkS, "run_s" -> secs(t0),
        "rounds_untraced_s" -> plain, "rounds_traced_s" -> tracedR,
        "round_median_s" -> median(plain),
        "metrics" -> e2e.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }.toMap,
        "extra" -> ctx.extra.toMap,
        "call_medians_s" -> ctx.callMedians,
        "steps" -> ctx.steps.toArray.toSeq.map { case (e, n, t) => Seq(e, n, t) },
        "per_layer" -> layer,
        "spans" -> ctx.tracer.map(_.spansJson).getOrElse(Nil))
      val recDir = work.getParent.resolve("records")
      Files.createDirectories(recDir)
      val recFile = recDir.resolve(
        s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}.json")
      Files.write(recFile, record.json.getBytes(UTF_8))

      val shown: Map[String, (Double, String)] =
        if (args.trace) Layers.names.map(k => k -> (layer.getOrElse(k, 0.0), Units.of(k))).toMap
        else e2e.toMap
      val failed = ctx.failed.get
      println(s"# ${args.workload} seed=${args.seed} inputs=${Json.render(ctx.sizes.toMap)} " +
        s"rounds=${rounds.size} record=${recDir.getFileName}/${recFile.getFileName}")
      println(Json.obj(
        "correct" -> (failed == 0),
        "attempted" -> ctx.attempted.get,
        "failed" -> failed,
        "metrics" -> shown.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
          k -> Json.obj("value" -> v, "unit" -> u) }.toMap))
    } finally {
      spark.stop()
    }
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples above it, as
    * (percentile, value); None with fewer than eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val n = xs.size
    if (n < 11) None
    else {
      val candidates = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      val p = candidates.find(p => n * (1 - p / 100) >= 10).getOrElse(50.0)
      Some(p -> quantile(xs, p / 100))
    }
  }

  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Host {
  def loadAvg(): Seq[Double] =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8)
      .split(" ").take(3).map(_.toDouble).toSeq
    catch { case NonFatal(_) => Seq(-1.0, -1.0, -1.0) }
}

/** Units of the per-layer metric names, by suffix. */
object Units {
  def of(name: String): String = name match {
    case n if n.endsWith("_ms") || n.endsWith("ms_per_superstep") => "ms"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith(".util") || n.endsWith(".skew") => "ratio"
    case _ => "count"
  }
}

/** Tiny JSON writer for the result line and run records. */
object Json {
  def obj(fields: (String, Any)*): RawJson =
    RawJson(fields.map { case (k, v) => s"${str(k)}:${render(v)}" }.mkString("{", ",", "}"))

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case RawJson(j) => j
    case other => str(other.toString)
  }

  final case class RawJson(json: String) { override def toString: String = json }

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
